"""One-order-up stress harness (VERDICT r5 item 7): build a ~10×
blowup of the corpus tables locally and measure the dedup/ANN scale
paths at 1× and 10×, printing per-op wall times and the observed
scaling exponent alpha = log(T_10x / T_1x) / log(10)  (alpha 1.0 =
linear, 2.0 = quadratic; sub-linear means fixed per-job overhead still
dominates at this absolute size).

Blowup construction — "10× more data of the same shape", not "10× the
same data":

- ``documents``: 10 copies, doc_id remapped to copy*N+doc_id, and EVERY
  token salted with a per-copy suffix — EXCEPT the BM25 query terms
  (``text._BM25_QUERY``, 3 fixed tokens), which stay unsalted so
  q_text_bm25's tf leg survives the blowup and gets an honest measured
  alpha (the r6 harness salted them away: zero matches at 10×, a
  meaningless "speedup"). Token salting makes cross-copy Jaccard ~0
  (≤3 shared query tokens out of hundreds per doc — two orders below
  any τ in use) while keeping each copy's pair graph an exact clone
  of the original — so true near-dup work scales exactly 10×. (Naively
  unioning identical copies would make every doc a 10-way exact dup and
  blow pair counts 100×, measuring a different problem.)
- ``embeddings``: 10 copies, vec_id remapped, vector cyclically shifted
  by ``copy`` positions — norms and the pairwise-cosine distribution
  are preserved, cross-copy similarities are arbitrary-but-typical.

The other eight tables are symlinked from the source sf dir so
``load_table`` works unchanged.

Usage:
    python tools/stress_scale.py                    # sf0.1 → 10×
    python tools/stress_scale.py --ops q_sim_ivf    # subset
    python tools/stress_scale.py --copies 100       # second decade:
                                                    # alpha from 1×→100×
    python tools/stress_scale.py --ivf-ab           # search-leg A/B:
                                                    # fixed K vs K=⌈√n⌉
                                                    # on a PREBUILT index
    python tools/stress_scale.py --copies 1000 --candidates-only --reuse
                                                    # third decade for the
                                                    # banded candidate stage
                                                    # only (docs-only blowup,
                                                    # reused across runs)
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from copy_databasetables_spark import get_spark  # noqa: E402
from copy_databasetables_spark.io import (  # noqa: E402
    TABLES,
    load_table,
    read_written,
    table_path,
)
from copy_databasetables_spark.operators import all_queries  # noqa: E402

OPS = [
    "q_dedup_minhash",
    "q_dedup_cluster",
    "q_dedup_embed_lsh_scaled",
    "q_sim_ivf",
]
COPIES = 10  # overridden by --copies


def build_blowup(
    spark,
    src_dir: str,
    out_dir: str,
    copies: int = COPIES,
    docs_only: bool = False,
    emb_only: bool = False,
) -> None:
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    from copy_databasetables_spark.operators.text import _BM25_QUERY, _PHRASE

    if emb_only:
        # vector-side third decade: only embeddings blow up (cyclic
        # shift per copy, disjoint vec_id spans — same construction as
        # below); every other table symlinks constant, so a --copies
        # 1000 build is ~500 MB of vectors, not 100M event rows.
        _build_embeddings(spark, src_dir, out_dir, copies)
        for t in TABLES:
            if t == "embeddings":
                continue
            dst = f"{out_dir}/{t}.parquet"
            if not os.path.exists(dst):
                os.symlink(table_path(src_dir, t), dst)
        return

    # 4 output files at the classic 10× scale; grow with the blowup so a
    # 1000× build doesn't funnel ~600 MB through 4 writer tasks and the
    # downstream scan starts from a sane file count.
    nfiles = min(64, max(4, copies // 4))

    docs = load_table(spark, src_dir, "documents")
    n_docs = docs.count()
    copies_df = spark.range(copies).select(F.col("id").cast("int").alias("copy"))
    # Tokens that survive salting: the BM25 query terms AND the demo
    # phrase terms (r10 — q_text_phrase_search's alpha needs its
    # matches to scale with the corpus, same reasoning as the r6 BM25
    # fix above). Still <=5 shared tokens/doc across copies — two
    # orders below any dedup tau in use.
    keep = ", ".join(f"'{t}'" for t in (*_BM25_QUERY, *_PHRASE))
    blown_docs = (
        docs.crossJoin(F.broadcast(copies_df))
        .select(
            (F.col("copy").cast("long") * n_docs + F.col("doc_id")).alias("doc_id"),
            F.array_join(
                F.expr(
                    "transform(split(text, ' '), "
                    f"t -> if(t in ({keep}), t, concat(t, '_', copy)))"
                ),
                " ",
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
    )
    blown_docs.coalesce(nfiles).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )

    if docs_only:
        # candidates-only leg: embeddings/events are untouched by the
        # minhash candidate stage — symlink them with the other tables
        # instead of paying a 1000× blowup build they'd never be read from.
        for t in TABLES:
            if t == "documents":
                continue
            dst = f"{out_dir}/{t}.parquet"
            if not os.path.exists(dst):
                os.symlink(table_path(src_dir, t), dst)
        return

    copies = copies_df
    _build_embeddings(spark, src_dir, out_dir, copies.count())

    # events: copies with DISJOINT user-id spans — |distinct users|,
    # the theta-sketch member count, and the per-user session graph all
    # scale exactly ×copies (each copy's sessions are clones, never
    # cross-copy merged); ts and value are untouched so the day
    # partitioning (KLL rollup groups) and the value distribution
    # (quantile targets) keep their shape while per-group row counts
    # scale ×copies.
    ev = load_table(spark, src_dir, "events")
    n_ev = ev.count()
    max_uid = ev.agg(F.max("user_id")).first()[0] + 1
    blown_ev = ev.crossJoin(F.broadcast(copies)).select(
        (F.col("copy").cast("long") * n_ev + F.col("event_id")).alias("event_id"),
        "ts",
        (F.col("copy").cast("long") * max_uid + F.col("user_id")).alias("user_id"),
        "event_type",
        "value",
        "props",
    )
    blown_ev.coalesce(nfiles).write.mode("overwrite").parquet(f"{out_dir}/events.parquet")

    for t in TABLES:
        if t in ("documents", "embeddings", "events"):
            continue
        dst = f"{out_dir}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(table_path(src_dir, t), dst)


def _build_embeddings(spark, src_dir: str, out_dir: str, copies: int) -> None:
    """Embeddings blowup leg (shared by the full and --embeddings-only
    builds): ``copies`` clones with disjoint vec_id spans, each copy's
    vector cyclically shifted by ``copy % dim`` so cross-copy cosines
    stay in the random bulk (no synthetic near-dup inflation)."""
    from pyspark.sql import functions as F

    nfiles = min(64, max(4, copies // 4))
    copies_df = spark.range(copies).select(
        F.col("id").cast("int").alias("copy")
    )
    emb = load_table(spark, src_dir, "embeddings")
    n_vecs = emb.count()
    dim = len(emb.first()["embedding"])
    blown_emb = (
        emb.crossJoin(F.broadcast(copies_df))
        .select(
            (F.col("copy").cast("long") * n_vecs + F.col("vec_id")).alias("vec_id"),
            F.expr(
                f"concat(slice(embedding, (copy % {dim}) + 1, {dim} - (copy % {dim})),"
                f" slice(embedding, 1, copy % {dim}))"
            ).alias("embedding"),
            "label",
        )
    )
    blown_emb.coalesce(nfiles).write.mode("overwrite").parquet(
        f"{out_dir}/embeddings.parquet"
    )


def build_facts_blowup(spark, src_dir: str, out_dir: str, copies: int) -> None:
    """FACT blowup for the TPC-H composites (r11): ``copies`` clones of
    orders + lineitem with order keys remapped to disjoint spans
    (o_orderkey' = copy·(max+1) + o_orderkey on BOTH tables, so the FK
    join graph of each copy is an exact clone and order-grain joins
    scale exactly ×copies). Dimensions (customer/supplier/part/nation/
    region) are symlinked UNCHANGED — the realistic large-warehouse
    shape: facts grow with time, dimensions don't, so per-dimension
    group counts stay fixed while per-group row counts scale ×copies.
    Q21's per-order self-probes see ×copies orders of the same
    multi-supplier mix; Q9's derived cost relation keeps |parts|·
    |suppliers-per-part| keys with ×copies rows behind each min."""
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    nfiles = min(64, max(4, copies // 4))
    copies_df = spark.range(copies).select(F.col("id").cast("int").alias("copy"))

    o = load_table(spark, src_dir, "orders")
    span = o.agg(F.max("o_orderkey")).first()[0] + 1
    (
        o.crossJoin(F.broadcast(copies_df))
        .select(
            (F.col("copy").cast("long") * span + F.col("o_orderkey")).alias(
                "o_orderkey"
            ),
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        )
        .coalesce(nfiles)
        .write.mode("overwrite")
        .parquet(f"{out_dir}/orders.parquet")
    )
    li = load_table(spark, src_dir, "lineitem")
    (
        li.crossJoin(F.broadcast(copies_df))
        .select(
            (F.col("copy").cast("long") * span + F.col("l_orderkey")).alias(
                "l_orderkey"
            ),
            "l_partkey",
            "l_suppkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            "l_returnflag",
            "l_linestatus",
            "l_shipdate",
        )
        .coalesce(nfiles)
        .write.mode("overwrite")
        .parquet(f"{out_dir}/lineitem.parquet")
    )
    for t in TABLES:
        if t in ("orders", "lineitem"):
            continue
        dst = f"{out_dir}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(table_path(src_dir, t), dst)


def ivf_search_ab(spark, sf_dir: str, out_base: str, runs: int = 2) -> dict:
    """Measure the IVF SEARCH leg against a PREBUILT index at fixed
    K=32 vs K=⌈√n⌉. The assignment (the index BUILD, O(n·K)) runs once
    per K, unmeasured, and is persisted to parquet; the timed leg is a
    FIXED 32-probe query batch (query size, not a corpus fraction)
    running the production search, ``_ivf_top_k``: route each probe to
    its cell, join the cell's members, score, top-k. Expected
    separation: cell population is n/K, so per-batch search work is
    O(batch·n/32) at fixed K (alpha→1 in corpus size) vs O(batch·√n)
    at scaled K (alpha→0.5)."""
    import math as m

    from copy_databasetables_spark.operators.similarity import (
        _IVF_MAX_CENTROIDS,
        _centroids,
        _ivf_assign,
        _ivf_top_k,
        _probes,
        _vecs,
    )

    v = _vecs(spark, sf_dir).persist()
    n = v.count()
    out = {"n_vectors": n}
    for kname, k in [
        ("fixed_k", _IVF_MAX_CENTROIDS),
        ("sqrt_k", m.ceil(m.sqrt(n))),
    ]:
        idx_path = f"{out_base}/ivf_index_{kname}"
        c = _centroids(v, k)
        _ivf_assign(v, c).write.mode("overwrite").parquet(idx_path)
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            probes = _probes(v).orderBy("probe_id").limit(32)
            index = spark.read.parquet(idx_path)
            (
                _ivf_top_k(probes, c, index, v)
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
            best = min(best, time.perf_counter() - t0)
        out[kname] = {"k": k, "search_sec": round(best, 3)}
    v.unpersist()
    return out


def ivfpq_search_ab(spark, sf_dir: str, out_base: str, runs: int = 5) -> dict:
    """Measure the PERSISTED-IVFPQ search leg against a PREBUILT index.
    Build (timed once, amortized): K=⌈√n⌉ coarse centroids persisted as
    their own table, PQ codebook persisted, and the codes JOINED WITH
    THEIR CELL ID and written ``partitionBy(cid)``, the layout where a
    probe prunes to its own cell's files. The timed leg is the fixed
    32-probe query batch paying ONLY query-time work, through the
    production bodies: route probes to cells by ``_probe_cells``
    (the quantized centroid affinity q_sim_ivf_pq_persisted routes
    by) against the centroid read-back, read only the probed cells'
    code files, decode them against the codebook, and run
    ``_ivf_top_k``. Expected: with cell population n/K = √n, per-batch
    work is O(batch·√n) on top of a scheduling floor.

    One untimed warm-up query runs first, then ``runs`` timed ones;
    ``search_sec`` is their median and ``search_spread_sec`` their
    max − min, so one slow run cannot set the scaling exponent."""
    import math as m
    import statistics

    from pyspark.sql import functions as F

    from copy_databasetables_spark.operators.similarity import (
        _CODEBOOK_COLS,
        _CODES_COLS,
        _centroids,
        _ivf_assign,
        _ivf_top_k,
        _pq_decode,
        _pq_parts,
        _probe_cells,
        _probes,
        _read_cells,
        _vecs,
        _write_cells,
    )

    v = _vecs(spark, sf_dir).persist()
    n = v.count()
    k = m.ceil(m.sqrt(n))
    idx = f"{out_base}/ivfpq_index_sqrtk_{n}"
    tb = time.perf_counter()
    c = _centroids(v, k)
    c.write.mode("overwrite").parquet(f"{idx}/centroids")
    sub_cb, codes = _pq_parts(v)
    sub_cb.write.mode("overwrite").parquet(f"{idx}/codebook")
    _write_cells(codes.join(_ivf_assign(v, c), "vec_id"), f"{idx}/codes_by_cell")
    build_s = round(time.perf_counter() - tb, 3)

    def search() -> float:
        t0 = time.perf_counter()
        cents = spark.read.parquet(f"{idx}/centroids")
        probes = _probes(v).orderBy("probe_id").limit(32)
        # bounded driver pull: <=32 probed cell ids -> partition pruning
        cells = [
            r["cid"]
            for r in _probe_cells(probes, cents, 1).select("cid").distinct().collect()
        ]
        cell_codes = _read_cells(
            spark, f"{idx}/codes_by_cell", _CODES_COLS
        ).where(F.col("cid").isin(cells))
        npq = _pq_decode(
            cell_codes.select("vec_id", "m", "code_id"),
            read_written(spark, f"{idx}/codebook", _CODEBOOK_COLS),
        )
        # one code row per (vector, subspace): the m=0 slice is the
        # assignment, as in the CDC query leg
        assign = cell_codes.where(F.col("m") == 0).select("vec_id", "cid")
        (
            _ivf_top_k(probes, cents, assign, npq, "d")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return time.perf_counter() - t0

    search()  # warm-up: JVM code paths and the index files' first read
    times = sorted(search() for _ in range(runs))
    v.unpersist()
    return {
        "n_vectors": n,
        "k": k,
        "build_sec": build_s,
        "search_sec": round(statistics.median(times), 3),
        "search_spread_sec": round(times[-1] - times[0], 3),
        "search_runs_sec": [round(t, 3) for t in times],
    }


def candidates_leg(spark, sf_dir: str, runs: int = 2) -> dict:
    """Time ONLY the banded-LSH candidate stage (VERDICT r8 item 6):
    tokenize → 16 minhashes → band → (lang, band, bucket) self-join →
    distinct candidate pairs. Verification and CC are skipped — this
    isolates the stage whose third-decade behavior is governed by
    bucket COLLISION counts (does the bucket join's output stay ~linear
    in corpus size, or do accidental cross-copy collisions bend it?),
    not by the verify join the 10×/100× runs already price. Uses the
    production stage bodies (_toks_df/_sigs/_band_keyed and the
    candidate step, _lsh_candidates), not a re-implementation."""
    from pyspark.sql import functions as F

    from copy_databasetables_spark.operators.dedup import (
        _TOKH,
        _band_keyed,
        _lsh_candidates,
        _sigs,
        _toks_df,
    )

    def cand_df():
        toks = _toks_df(spark, sf_dir).withColumn("tokh", F.expr(_TOKH))
        return _lsh_candidates(_band_keyed(_sigs(toks)))

    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        cand_df().write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return {"sec": round(best, 3), "n_candidates": cand_df().count()}


def time_op(spark, name: str, sf_dir: str, runs: int = 2) -> float:
    q = all_queries()[name]
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        q(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/spark_graft_scale10")
    global COPIES
    ap.add_argument("--ops", nargs="*", default=OPS)
    ap.add_argument("--copies", type=int, default=COPIES)
    ap.add_argument(
        "--ivf-ab",
        action="store_true",
        help="instead of --ops timing, run the prebuilt-index IVF "
        "search-leg A/B (fixed K vs K=sqrt(n)) at 1x and at --copies x",
    )
    ap.add_argument(
        "--ivfpq-ab",
        action="store_true",
        help="measure the PERSISTED-IVFPQ search leg (sqrt-n cells, "
        "partitionBy(cid) codes, partition-pruned probe reads) against "
        "a prebuilt index at 1x and --copies x",
    )
    ap.add_argument(
        "--candidates-only",
        action="store_true",
        help="time ONLY the banded-LSH candidate stage (no verify/CC) "
        "at 1x and --copies x; builds a documents-only blowup so a "
        "1000x third-decade run stays budget-bounded",
    )
    ap.add_argument(
        "--embeddings-only",
        action="store_true",
        help="blow up ONLY the embeddings table (documents/events "
        "symlinked constant) — for the vector-side third decade "
        "(--copies 1000 turns sf0.1's 2k vectors into 2M) without "
        "paying a 100M-row events build the ANN legs never read",
    )
    ap.add_argument(
        "--facts",
        action="store_true",
        help="blow up the FACT tables (orders+lineitem, FK-consistent "
        "disjoint order-key spans, dims symlinked constant) instead of "
        "documents/embeddings/events — for the TPC-H composite alphas",
    )
    ap.add_argument(
        "--docs-only",
        action="store_true",
        help="blow up ONLY the documents table (embeddings/events "
        "symlinked constant) for the regular --ops timing path — the "
        "doc-side third decade (--copies 1000 turns sf0.1's 5k docs "
        "into 5M) without paying a 100M-row events build the "
        "span-dedup/BM25 legs never read",
    )
    ap.add_argument(
        "--reuse",
        action="store_true",
        help="skip the blowup build if --out already holds a "
        "documents.parquet (prebuilt dir from an earlier run)",
    )
    ap.add_argument(
        "--embed-tau",
        type=float,
        default=None,
        help="override the embedding-dedup verify threshold for the "
        "timed ops (production-like tau, e.g. 0.95: only near-clones "
        "verify, the pair graph thins to token-side density — the "
        "regime the semantic-CC chain runs in on real data; the "
        "demonstration 0.40 used by the correctness gate sits inside "
        "the random-vector cosine bulk and makes the 100x graph "
        "synthetically ~10x denser, SCALE.md r7 note). Timing-only: "
        "oracle strings keep their literal, the gate is unaffected.",
    )
    args = ap.parse_args()
    if args.embed_tau is not None:
        from copy_databasetables_spark.operators import dedup

        dedup._EMBED_TAU = args.embed_tau

    spark = get_spark("stress-scale")
    os.environ["SPARK_GRAFT_SCAN_PARALLELISM"] = str(
        spark.sparkContext.defaultParallelism
    )
    COPIES = args.copies
    if args.facts:
        if not (
            args.reuse and os.path.exists(f"{args.out}/lineitem.parquet")
        ):
            build_facts_blowup(spark, args.src, args.out, args.copies)
    else:
        probe_tbl = (
            "embeddings" if args.embeddings_only else "documents"
        )
        if not (
            args.reuse
            and os.path.exists(f"{args.out}/{probe_tbl}.parquet")
        ):
            build_blowup(
                spark, args.src, args.out, args.copies,
                docs_only=args.candidates_only or args.docs_only,
                emb_only=args.embeddings_only,
            )

    if args.candidates_only:
        r1 = candidates_leg(spark, args.src)
        rn = candidates_leg(spark, args.out)
        res = {
            "src": args.src,
            "copies": args.copies,
            "candidates_1x": r1,
            f"candidates_{args.copies}x": rn,
            "alpha_time": round(
                math.log(rn["sec"] / r1["sec"]) / math.log(args.copies), 2
            ),
            # collision health: candidate PAIRS should scale ~x copies
            # (salting keeps copies' buckets disjoint); a growth exponent
            # > 1 means accidental cross-copy bucket collisions are
            # bending the stage super-linear.
            "alpha_candidates": round(
                math.log(rn["n_candidates"] / r1["n_candidates"])
                / math.log(args.copies),
                3,
            ),
        }
        print(
            f"candidates 1x={r1['sec']}s ({r1['n_candidates']} pairs)  "
            f"{args.copies}x={rn['sec']}s ({rn['n_candidates']} pairs)  "
            f"alpha_time={res['alpha_time']} "
            f"alpha_pairs={res['alpha_candidates']}",
            file=sys.stderr,
        )
        print(json.dumps(res))
        return

    if args.ivfpq_ab:
        ab = {
            "src": args.src,
            "copies": args.copies,
            "1x": ivfpq_search_ab(spark, args.src, args.out),
            f"{args.copies}x": ivfpq_search_ab(spark, args.out, args.out),
        }
        t1 = ab["1x"]["search_sec"]
        tn = ab[f"{args.copies}x"]["search_sec"]
        ab["alpha_search"] = round(
            math.log(tn / t1) / math.log(args.copies), 2
        )
        print(
            f"ivfpq persisted search (median) 1x={t1:8.3f}s "
            f"±{ab['1x']['search_spread_sec']:.3f} "
            f"{args.copies}x={tn:8.3f}s "
            f"±{ab[f'{args.copies}x']['search_spread_sec']:.3f}  "
            f"alpha={ab['alpha_search']}",
            file=sys.stderr,
        )
        print(json.dumps(ab))
        return

    if args.ivf_ab:
        ab = {
            "src": args.src,
            "copies": args.copies,
            "1x": ivf_search_ab(spark, args.src, args.out),
            f"{args.copies}x": ivf_search_ab(spark, args.out, args.out),
        }
        for kname in ("fixed_k", "sqrt_k"):
            t1 = ab["1x"][kname]["search_sec"]
            t10 = ab[f"{args.copies}x"][kname]["search_sec"]
            alpha = round(math.log(t10 / t1) / math.log(args.copies), 2)
            ab[f"alpha_{kname}"] = alpha
            print(
                f"ivf search {kname:8s} 1x={t1:8.3f}s "
                f"{args.copies}x={t10:8.3f}s  alpha={alpha}",
                file=sys.stderr,
            )
        print(json.dumps(ab))
        return

    size_table = (
        "lineitem"
        if args.facts
        else "embeddings" if args.embeddings_only else "documents"
    )
    n1 = load_table(spark, args.src, size_table).count()
    n10 = load_table(spark, args.out, size_table).count()

    out = {
        "src": args.src,
        f"{size_table}_1x": n1,
        f"{size_table}_{args.copies}x": n10,
        "copies": args.copies,
        "ops": {},
    }
    if args.embed_tau is not None:
        out["embed_tau"] = args.embed_tau
    for name in args.ops:
        t1 = time_op(spark, name, args.src)
        t10 = time_op(spark, name, args.out)
        alpha = round(math.log(t10 / t1) / math.log(COPIES), 2)
        out["ops"][name] = {
            "t_1x_sec": t1,
            f"t_{COPIES}x_sec": t10,
            "alpha": alpha,
        }
        print(
            f"{name:24s} 1x={t1:8.3f}s  {COPIES}x={t10:8.3f}s  alpha={alpha}",
            file=sys.stderr,
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
