"""Property-based invariants (SURVEY.md §5.2 item 4). Hypothesis drives
small generated inputs through the same primitives the operators use;
examples are kept small because each runs a Spark job."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

_settings = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_rows = st.lists(
    st.tuples(st.integers(0, 5), st.floats(-100, 100, allow_nan=False)),
    min_size=1,
    max_size=20,
)


@given(a=_rows, b=_rows)
@_settings
def test_union_all_counts_add(spark, a, b):
    df_a = spark.createDataFrame(a, "k int, v double")
    df_b = spark.createDataFrame(b, "k int, v double")
    assert df_a.unionByName(df_b).count() == len(a) + len(b)


@given(rows=_rows)
@_settings
def test_distinct_is_idempotent(spark, rows):
    df = spark.createDataFrame(rows, "k int, v double").select("k").distinct()
    assert df.count() == df.distinct().count() == len({k for k, _ in rows})


@given(rows=_rows)
@_settings
def test_except_self_is_empty(spark, rows):
    df = spark.createDataFrame(rows, "k int, v double")
    assert df.exceptAll(df).count() == 0


@given(toks=st.lists(st.text("abcde", min_size=1, max_size=3), min_size=1, max_size=12))
@_settings
def test_jaccard_self_is_one_and_bounded(spark, toks):
    df = spark.createDataFrame([(toks,)], "toks array<string>")
    row = df.select(
        (
            F.size(F.array_intersect("toks", "toks"))
            / F.size(F.array_union("toks", "toks"))
        ).alias("self_jac")
    ).collect()[0]
    assert row["self_jac"] == 1.0


@given(
    vec=st.lists(
        st.floats(-10, 10, allow_nan=False, allow_infinity=False).filter(
            lambda x: abs(x) > 1e-3
        ),
        min_size=2,
        max_size=8,
    )
)
@_settings
def test_l2_norm_positive_and_scale_equivariant(spark, vec):
    df = spark.createDataFrame([(vec, [2.0 * x for x in vec])], "a array<double>, b array<double>")
    sq = lambda c: F.aggregate(F.col(c), F.lit(0.0), lambda acc, x: acc + x * x)  # noqa: E731
    r = df.select(F.sqrt(sq("a")).alias("na"), F.sqrt(sq("b")).alias("nb")).collect()[0]
    assert r["na"] > 0
    assert abs(r["nb"] - 2.0 * r["na"]) < 1e-9 * max(1.0, r["na"])


@given(rows=_rows)
@_settings
def test_scaled_int_sum_matches_fsum(spark, rows):
    """dsum's scaled-integer accumulation equals an exact fsum for
    2-decimal inputs — the invariant the whole oracle strategy rests on."""
    import math

    vals = [round(v, 2) for _, v in rows]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    from copy_databasetables_spark.operators._helpers import dsum

    got = df.agg(dsum("v", "s")).collect()[0]["s"]
    assert got == round(math.fsum(vals), 6)


_snapshots = st.lists(
    st.dictionaries(
        st.integers(1, 6),            # keys
        st.integers(0, 3),            # tracked attribute value
        min_size=0,
        max_size=6,
    ),
    min_size=1,
    max_size=4,
)


@given(snaps=_snapshots)
@_settings
def test_scd2_invariants_under_any_snapshot_sequence(spark, snaps):
    """SCD2 state-machine invariants for ANY sequence of snapshots:
    (1) at most one current row per key, and the current keys are
    exactly the last snapshot's keys; (2) every closed row has
    valid_to set, every open row has it null; (3) per key, version
    intervals are chronologically ordered and never overlap; (4) the
    final current value equals the last snapshot's value; (5) rows
    closed by step i are byte-identical in every later step (history
    is immutable)."""
    from copy_databasetables_spark.copy.engine import scd2_apply

    dates = [f"2024-0{i + 1}-01" for i in range(len(snaps))]
    dim = None
    closed_so_far: set[tuple] = set()
    for snap, d in zip(snaps, dates):
        sdf = spark.createDataFrame(
            [(k, v) for k, v in snap.items()], "k long, v long"
        )
        dim = scd2_apply(dim, sdf, "k", ["v"], d)
        rows = {
            (r["k"], r["v"], r["valid_from"], r["valid_to"], r["is_current"])
            for r in dim.collect()
        }
        cur = [r for r in rows if r[4]]
        # (1) one current row per key; current keys == snapshot keys
        assert len(cur) == len({r[0] for r in cur}) == len(snap)
        assert {r[0] for r in cur} == set(snap)
        # (2) open ⇔ valid_to null
        for r in rows:
            assert (r[3] is None) == r[4]
        # (4) current values match the snapshot
        for r in cur:
            assert r[1] == snap[r[0]]
        # (3) per-key interval ordering
        by_key: dict = {}
        for r in rows:
            by_key.setdefault(r[0], []).append(r)
        for vs in by_key.values():
            vs.sort(key=lambda r: r[2])
            for a, b in zip(vs, vs[1:]):
                assert a[3] is not None and a[3] <= b[2]
        # (5) closed rows never change
        new_closed = {r for r in rows if not r[4]}
        assert closed_so_far <= new_closed
        closed_so_far = new_closed


@given(
    keys=st.lists(
        st.integers(0, 10_000), min_size=1, max_size=30, unique=True
    ),
    n_parts=st.integers(1, 6),
)
@_settings
def test_range_partitioned_rank_reproduces_global_rank(spark, keys, n_parts):
    """q_assign_global_ids' algebra: for ANY key set and ANY partition
    count, range-repartition → local row_number + per-partition offsets
    must yield exactly the dense global ranking 1..n in key order —
    boundary placement must never matter."""
    from pyspark.sql.window import Window

    df = (
        spark.createDataFrame([(k,) for k in keys], "doc_id long")
        .repartitionByRange(n_parts, "doc_id")
        .withColumn("pid", F.spark_partition_id())
    )
    local = df.withColumn(
        "local_rn",
        F.row_number().over(Window.partitionBy("pid").orderBy("doc_id")),
    )
    offsets = (
        df.groupBy("pid")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("n").over(
                    Window.orderBy("pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("pid", "offset")
    )
    got = {
        r["doc_id"]: r["offset"] + r["local_rn"]
        for r in local.join(offsets, "pid").collect()
    }
    want = {k: i + 1 for i, k in enumerate(sorted(keys))}
    assert got == want


def test_results_invariant_under_shuffle_partition_count(spark):
    """Metamorphic determinism-under-parallelism pin (r8): a cluster
    resize must never change results. The most partition-sensitive
    operators by construction — global-id assignment (range partition +
    per-partition offsets), LSH banding joins, the keep-one-canonical
    span pick, the quantized k-means update, and the persisted sqrt-n
    IVF search — are executed under two different shuffle-partition
    counts and must return the identical row multiset. Any hidden
    dependence on partition boundaries (a first()/limit leak, an
    unseeded per-partition tiebreak, float accumulation order) shows up
    as a diff here long before it shows up on a 1000-executor
    cluster. The effective counts are asserted after every run: each
    operator re-applies the session confs, which must keep both."""
    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.session import (
        _PARTITION_CONFS,
        REQUIRED_RUNTIME_CONFS,
        set_shuffle_partitions,
    )

    sf = "/root/testdata/sf0.001"
    qs = all_queries()
    ops = [
        "q_assign_global_ids",
        "q_dedup_minhash",
        "q_text_strip_spans_keep1",
        "q_emb_kmeans",
        "q_sim_ivf_kscaled_persisted",
    ]
    conf = spark.conf
    try:
        results = {}
        for n_shuffle in (5, None):
            set_shuffle_partitions(spark, n_shuffle)
            want = [
                str(n_shuffle) if n_shuffle else REQUIRED_RUNTIME_CONFS[k]
                for k in _PARTITION_CONFS
            ]
            for op in ops:
                rows = sorted(
                    tuple(r) for r in qs[op](spark, sf).collect()
                )
                results.setdefault(op, []).append(rows)
                assert [conf.get(k) for k in _PARTITION_CONFS] == want, op
    finally:
        set_shuffle_partitions(spark, None)
    for op, (a, b) in results.items():
        assert a == b, f"{op} changed under a different shuffle-partition count"
