"""Copy-engine tests (SURVEY.md §2.1 / M1): round trips, verification,
DDL scripting, FK ordering."""

from __future__ import annotations

import glob
import os
import uuid

import pytest

from pyspark.sql import functions as F

from copy_databasetables_spark.copy.engine import (
    FK_COPY_ORDER,
    CopyVerificationError,
    copy_table,
    copy_tables,
    schema_to_ddl,
)
from copy_databasetables_spark.io import SCHEMAS, load_table
from tests.conftest import SF_SMOKE

ROOT = "/tmp/spark_graft_test_copy"


def test_copy_roundtrip_exact(spark):
    res = copy_table(
        spark, SF_SMOKE, "customer", f"{ROOT}/customer", verify_checksum=True
    )
    assert res.rows_copied == 150 and res.verified
    src = load_table(spark, SF_SMOKE, "customer")
    back = spark.read.parquet(f"{ROOT}/customer")
    assert back.exceptAll(src).count() == 0 and src.exceptAll(back).count() == 0


def test_copy_is_idempotent(spark):
    for _ in range(2):
        res = copy_table(spark, SF_SMOKE, "region", f"{ROOT}/region")
        assert res.rows_copied == 5


def test_copy_partitioned_file_count(spark):
    copy_table(spark, SF_SMOKE, "orders", f"{ROOT}/orders_p", num_partitions=4)
    files = glob.glob(f"{ROOT}/orders_p/part-*")
    assert len(files) == 4  # the BatchSize analog: one file per partition


def test_checksum_catches_corruption(spark):
    target = f"{ROOT}/nation_corrupt"
    copy_table(spark, SF_SMOKE, "nation", target)
    # tamper: rewrite the copy with one value changed, same row count
    broken = load_table(spark, SF_SMOKE, "nation").withColumn(
        "n_name", F.when(F.col("n_nationkey") == 0, "XX").otherwise(F.col("n_name"))
    )
    broken.write.mode("overwrite").parquet(target + "2")
    src = load_table(spark, SF_SMOKE, "nation")
    chk = lambda df: df.select(  # noqa: E731
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("c")
    ).collect()[0]["c"]
    assert chk(src) != chk(spark.read.parquet(target + "2"))
    assert chk(src) == chk(spark.read.parquet(target))


#: How the target diverges from what the write observed: each replaces
#: the frame written with an image of the same observed frame, so the
#: write still reports the triple of the rows it was given.
_DIVERGENCE = {
    "row_dropped": lambda df: df.where(F.col("n_nationkey") != 0),
    "value_changed": lambda df: df.withColumn(
        "n_name", F.when(F.col("n_nationkey") == 0, "XX").otherwise(F.col("n_name"))
    ),
    # a file type the reader cannot narrow back to int
    "retyped_bigint": lambda df: df.withColumn(
        "n_regionkey", F.col("n_regionkey").cast("bigint")
    ),
    # a file type the reader widens back to equal int values
    "retyped_smallint": lambda df: df.withColumn(
        "n_regionkey", F.col("n_regionkey").cast("smallint")
    ),
}


@pytest.mark.parametrize("divergence", sorted(_DIVERGENCE))
def test_copy_verification_raises_on_divergent_target(spark, tmp_path, monkeypatch, divergence):
    """copy_table's own verify path raises when what lands differs from
    what the write observed. The divergence is injected at the write
    step; the check itself runs unchanged."""
    from pyspark.sql.readwriter import DataFrameWriter

    real_parquet = DataFrameWriter.parquet

    def divergent_parquet(self, path, *args, **kwargs):
        real_parquet(_DIVERGENCE[divergence](self._df).write.mode("overwrite"), path)

    monkeypatch.setattr(DataFrameWriter, "parquet", divergent_parquet)
    with pytest.raises(CopyVerificationError):
        copy_table(spark, SF_SMOKE, "nation", str(tmp_path / "nation"), verify_checksum=True)


def _jobs(spark, run) -> tuple[int, object]:
    """The number of Spark jobs ``run()`` runs, and its result."""
    sc = spark.sparkContext
    group = f"test_copy_jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "copy engine job count")
    try:
        res = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), res


def test_verified_copy_runs_at_most_two_jobs(spark, tmp_path):
    """One pass per side: the write job observes the verification triple
    and ONE observed scan of the written files recomputes it. No
    aggregate exchange (under AQE its final stage would be a third
    job), no source re-scan and no schema-inference job."""
    target = str(tmp_path / "orders")
    n, res = _jobs(
        spark, lambda: copy_table(spark, SF_SMOKE, "orders", target, verify_checksum=True)
    )
    assert res.rows_copied == 1500
    assert 1 <= n <= 2


def test_verify_copy_with_checksum_runs_at_most_two_jobs(spark, tmp_path):
    """``verify_copy`` observes the source triple on one scan and checks
    the target with the copy's own one-scan check: 2 jobs (4 with an
    aggregate on each side)."""
    from copy_databasetables_spark.copy.engine import verify_copy

    target = str(tmp_path / "orders")
    copy_table(spark, SF_SMOKE, "orders", target, verify_checksum=True)
    n, rows = _jobs(
        spark, lambda: verify_copy(spark, SF_SMOKE, "orders", target, verify_checksum=True)
    )
    assert rows == 1500
    assert 1 <= n <= 2


def test_cdc_apply_on_existing_target_runs_at_most_four_jobs(spark, tmp_path):
    """A CDC apply onto an existing target infers the change log's
    schema (1 job), reads the target with its footer schema (no job),
    writes the staged state (its shuffle and result stages are a job
    each under AQE) and checks it with one observed scan: 4 jobs, 6
    with an inferred target read and an aggregate check."""
    from copy_databasetables_spark.copy.engine import cdc_apply_table

    target, log = str(tmp_path / "orders"), str(tmp_path / "log")
    copy_table(spark, SF_SMOKE, "orders", target)
    load_table(spark, SF_SMOKE, "orders").where("o_orderkey <= 40").selectExpr(
        "*", "'D' AS op", "1L AS seq"
    ).write.parquet(log)
    n_deleted = load_table(spark, SF_SMOKE, "orders").where("o_orderkey <= 40").count()
    n, res = _jobs(
        spark, lambda: cdc_apply_table(spark, log, "orders", target, "o_orderkey")
    )
    assert res.rows_copied == 1500 - n_deleted
    assert 1 <= n <= 4


def _pyarrow_target(spark, path: str) -> None:
    """A copy of nation written by pyarrow: no Spark schema in the footer."""
    import pyarrow.parquet as pq

    os.makedirs(path)
    src = pq.read_table(os.path.join(SF_SMOKE, "nation.parquet"))
    pq.write_table(src, os.path.join(path, "part-0.parquet"))


#: Target layouts ``_read_target_if_exists`` reads: how each is made, and
#: whether it is read with its footer schema (no job) or by inference.
_TARGETS = {
    "unpartitioned": (
        lambda spark, p: copy_table(spark, SF_SMOKE, "nation", p), True
    ),
    "partitioned": (
        lambda spark, p: copy_table(
            spark, SF_SMOKE, "nation", p, partition_by="n_regionkey"
        ),
        False,
    ),
    "pyarrow_written": (_pyarrow_target, False),
}


@pytest.mark.parametrize("layout", sorted(_TARGETS))
def test_target_reader_matches_inference(spark, tmp_path, layout):
    """Merge, delete, SCD2, CDC and incremental copies read an existing
    target with the Spark schema in its footer, so no inference job
    runs. A partitioned target (whose footers lack the partition column)
    and one another engine wrote (no Spark schema) fall back to
    inference. Every layout reads the schema and rows inference does."""
    from copy_databasetables_spark.copy.engine import _read_target_if_exists
    from copy_databasetables_spark.io import footer_schema

    path = str(tmp_path / "nation")
    make, by_footer = _TARGETS[layout]
    make(spark, path)
    n, got = _jobs(spark, lambda: _read_target_if_exists(spark, path))
    inferred = spark.read.parquet(path)
    assert got.schema == inferred.schema
    assert "n_regionkey" in got.columns
    assert (n == 0) == by_footer
    assert (footer_schema(path) is None) == (layout == "pyarrow_written")
    assert got.exceptAll(inferred).count() == 0 and got.count() == 25


def test_empty_table_passes_verified_copy(spark, tmp_path):
    """A 0-row table copies and verifies: the write still lands one file
    carrying the schema, and both sides observe (0, NULL, NULL)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from copy_databasetables_spark.copy.engine import verify_copy

    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(
        pa.table({"r_regionkey": pa.array([], pa.int32()), "r_name": pa.array([], pa.string())}),
        str(sf / "region.parquet"),
    )
    target = str(tmp_path / "region")
    res = copy_table(spark, str(sf), "region", target, verify_checksum=True)
    assert res.rows_copied == 0 and res.verified
    assert verify_copy(spark, str(sf), "region", target, verify_checksum=True) == 0


def test_copy_tables_fk_order(spark):
    results = copy_tables(spark, SF_SMOKE, f"{ROOT}/many", ["orders", "region", "customer"])
    # requested out of order; engine must restore FK order
    assert [r.table for r in results] == ["region", "customer", "orders"]


def test_schema_to_ddl_scripts_all_columns(spark):
    ddl = schema_to_ddl(SCHEMAS["orders"], "t_orders")
    assert ddl.startswith("CREATE TABLE t_orders")
    for col in SCHEMAS["orders"].fieldNames():
        assert col in ddl
    assert "TIMESTAMP_NTZ" in ddl and "BIGINT" in ddl
    # scripted DDL must be executable Spark SQL
    spark.sql("DROP TABLE IF EXISTS t_orders")
    spark.sql(ddl + f" USING PARQUET LOCATION '{ROOT}/ddl_orders'")
    assert spark.table("t_orders").schema == SCHEMAS["orders"]
    spark.sql("DROP TABLE t_orders")


def test_fk_order_is_parents_first():
    assert FK_COPY_ORDER.index("region") < FK_COPY_ORDER.index("nation")
    assert FK_COPY_ORDER.index("nation") < FK_COPY_ORDER.index("customer")
    assert FK_COPY_ORDER.index("orders") < FK_COPY_ORDER.index("lineitem")


def test_copy_partition_by_layout(spark):
    """partition_by produces hive-style directories and survives the
    roundtrip with identical content."""
    import os

    target = f"{ROOT}/orders_by_status"
    copy_table(spark, SF_SMOKE, "orders", target, partition_by="o_orderstatus")
    subdirs = {d for d in os.listdir(target) if d.startswith("o_orderstatus=")}
    assert subdirs == {"o_orderstatus=F", "o_orderstatus=O", "o_orderstatus=P"}
    back = spark.read.parquet(target).select(*load_table(spark, SF_SMOKE, "orders").columns)
    src = load_table(spark, SF_SMOKE, "orders")
    assert back.exceptAll(src).count() == 0 and src.exceptAll(back).count() == 0


def test_incremental_copy_moves_only_new_rows(spark, tmp_path):
    """Second run after source growth must append exactly the new rows;
    an unchanged source must append nothing (idempotent re-run)."""
    from copy_databasetables_spark.copy.engine import copy_table_incremental
    from copy_databasetables_spark.io import load_table

    target = str(tmp_path / "orders_inc")
    sf = "/root/testdata/sf0.001"
    # first run: full copy
    r1 = copy_table_incremental(spark, sf, "orders", target, key="o_orderkey")
    n = load_table(spark, sf, "orders").count()
    assert r1.rows_copied == n
    # re-run with no new rows: still verified, nothing duplicated
    r2 = copy_table_incremental(spark, sf, "orders", target, key="o_orderkey")
    assert r2.rows_copied == n


def test_compaction_preserves_content(spark, tmp_path):
    import os

    from copy_databasetables_spark.copy.engine import compact_table
    from copy_databasetables_spark.io import load_table

    frag = str(tmp_path / "frag")
    out = str(tmp_path / "compacted")
    src = load_table(spark, "/root/testdata/sf0.001", "region")
    src.repartition(16).write.mode("overwrite").parquet(frag)
    n_files = compact_table(spark, frag, out, target_file_bytes=64 * 1024 * 1024)
    assert n_files == 1  # 5 rows compact to a single file
    back = spark.read.parquet(out)
    assert back.exceptAll(src).count() == 0 and src.exceptAll(back).count() == 0


def test_merge_keeps_unmatched_target_rows(spark, tmp_path):
    """MERGE semantics: source rows win on key collision, new source
    keys insert, and target-only rows SURVIVE (unlike overwrite)."""
    from copy_databasetables_spark.copy.engine import merge_table
    from copy_databasetables_spark.io import SCHEMAS

    target = str(tmp_path / "m")
    # target holds one row the source will update (key 1, stale) and one
    # row outside the source's key range entirely (key -7, must survive)
    stale = spark.createDataFrame(
        [(1, "stale"), (-7, "survivor")], "r_regionkey int, r_name string"
    )
    stale.write.mode("overwrite").parquet(target)
    merge_table(spark, "/root/testdata/sf0.001", "region", target, key="r_regionkey")
    back = {r["r_regionkey"]: r["r_name"] for r in spark.read.parquet(target).collect()}
    assert back[-7] == "survivor"          # unmatched target row kept
    assert back[1] != "stale"              # source version replaced it
    assert len(back) == 6                  # 5 source regions + survivor


def test_merge_failed_publish_rolls_back_and_cleans_staging(spark, tmp_path, monkeypatch):
    """A merge whose publish rename fails must leave the PREVIOUS target
    intact (rolled back, not truncated) and must not leak the ._merge_tmp
    staging dir — the staging copy is a full table, so a leak on every
    failed sync would eat the volume."""
    import os

    import pytest as _pytest

    from copy_databasetables_spark.copy import engine

    sf = "/root/testdata/sf0.001"
    target = str(tmp_path / "merge_target")
    engine.merge_table(spark, sf, "region", target, key="r_regionkey")
    n0 = spark.read.parquet(target).count()
    assert n0 > 0

    real_rename = os.rename

    def failing_rename(a, b):
        if str(a).endswith("._merge_tmp"):  # the publish step only
            raise OSError("simulated filesystem failure at publish")
        real_rename(a, b)

    monkeypatch.setattr(engine.os, "rename", failing_rename)
    with _pytest.raises(OSError, match="simulated"):
        engine.merge_table(spark, sf, "region", target, key="r_regionkey")
    monkeypatch.undo()

    assert spark.read.parquet(target).count() == n0  # rolled back, intact
    assert not os.path.exists(target + "._merge_tmp")  # staging cleaned
    assert not os.path.exists(target + "._merge_old")  # rollback consumed it


def test_delete_rows_removes_exactly_the_requested_keys(spark, tmp_path):
    """GDPR erasure: the requested keys are gone, everything else
    survives byte-identical, and the count arithmetic is verified."""
    from copy_databasetables_spark.copy.engine import copy_table, delete_rows

    target = str(tmp_path / "d")
    copy_table(spark, "/root/testdata/sf0.001", "customer", target)
    before = spark.read.parquet(target)
    n_before = before.count()
    victims = [r["c_custkey"] for r in before.limit(3).collect()]
    # materialize the expected survivors BEFORE the republish: `before`
    # is lazy and its file listing dies with the old directory
    keep_names = sorted(
        r["c_name"]
        for r in before.where(~F.col("c_custkey").isin(victims)).collect()
    )
    res = delete_rows(spark, target, "c_custkey", victims)
    after = spark.read.parquet(target)
    assert res.rows_copied == n_before - 3 == after.count()
    assert after.where(F.col("c_custkey").isin(victims)).count() == 0
    # non-victims untouched (same multiset of names)
    assert keep_names == sorted(r["c_name"] for r in after.collect())


def test_delete_rows_refuses_missing_target(spark, tmp_path):
    from copy_databasetables_spark.copy.engine import (
        CopyVerificationError,
        delete_rows,
    )

    with pytest.raises(CopyVerificationError):
        delete_rows(spark, str(tmp_path / "nope"), "k", [1])


def test_hwm_from_footers_matches_aggregate(spark, tmp_path):
    """The metadata-only high-water mark must equal the aggregate-scan
    answer on stat-safe key types, and decline (None) on string keys
    (writer stat truncation makes string max untrustworthy) so the
    caller falls back to the real scan."""
    from pyspark.sql import functions as F

    from copy_databasetables_spark.copy.engine import _parquet_max_from_footers
    from copy_databasetables_spark.io import load_table
    from tests.conftest import SF_SMOKE

    target = str(tmp_path / "orders_hwm")
    orders = load_table(spark, SF_SMOKE, "orders")
    orders.repartition(4).write.parquet(target)

    want_key = orders.agg(F.max("o_orderkey")).first()[0]
    assert _parquet_max_from_footers(target, "o_orderkey") == want_key

    want_ts = orders.agg(F.max("o_orderdate")).first()[0]
    got_ts = _parquet_max_from_footers(target, "o_orderdate")
    assert got_ts == want_ts

    # string column → decline, never guess
    assert _parquet_max_from_footers(target, "o_orderstatus") is None
    # absent column → decline
    assert _parquet_max_from_footers(target, "nope") is None
    # empty dir → decline
    assert _parquet_max_from_footers(str(tmp_path / "missing"), "k") is None


def test_scd2_state_machine_all_four_legs(spark):
    """scd2_apply on a handcrafted dim: changed key closes + reopens,
    new key inserts, vanished key closes with no successor, untouched
    key keeps its original open row — and a third apply never touches
    already-closed history."""
    from copy_databasetables_spark.copy.engine import scd2_apply

    snap1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, attr string"
    )
    #      1 unchanged · 2 changed · 3 deleted · 4 new
    snap2 = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d")], "k long, attr string"
    )
    dim = scd2_apply(None, snap1, "k", ["attr"], "2024-01-01")
    dim = scd2_apply(dim, snap2, "k", ["attr"], "2024-02-01")
    rows = {
        (r["k"], r["attr"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in dim.collect()
    }
    assert rows == {
        (1, "a", "2024-01-01", None, True),
        (2, "b", "2024-01-01", "2024-02-01", False),
        (2, "B", "2024-02-01", None, True),
        (3, "c", "2024-01-01", "2024-02-01", False),
        (4, "d", "2024-02-01", None, True),
    }
    # third apply: 2 changes again — its 01-01 row must stay untouched
    snap3 = spark.createDataFrame([(1, "a"), (2, "z")], "k long, attr string")
    dim3 = scd2_apply(dim, snap3, "k", ["attr"], "2024-03-01")
    rows3 = {
        (r["k"], r["attr"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in dim3.collect()
    }
    assert (2, "b", "2024-01-01", "2024-02-01", False) in rows3
    assert (2, "B", "2024-02-01", "2024-03-01", False) in rows3
    assert (2, "z", "2024-03-01", None, True) in rows3
    # exactly one current row per live key, ever
    cur = [r for r in rows3 if r[4]]
    assert sorted(r[0] for r in cur) == [1, 2]
    assert (4, "d", "2024-02-01", "2024-03-01", False) in rows3  # 4 vanished


def test_evolve_copy_appends_without_rewriting_day1_files(spark):
    """Schema evolution must be metadata-only on the write path: after
    the day-2 append the target holds BOTH schema generations side by
    side (day-1 footers lack o_orderpriority, day-2 footers carry it) —
    proof the append rewrote nothing — and the merged read reports NULL
    (not a fabricated default) for the legacy rows' new column."""
    import glob

    import pyarrow.parquet as pq
    from copy_databasetables_spark.operators import all_queries

    sf = "/root/testdata/sf0.001"
    target = "/tmp/spark_graft_io/copy_table_evolve/sf0.001/orders"
    out = all_queries()["copy_table_evolve"](spark, sf)
    legacy_nulls = out.where(F.col("o_orderpriority").isNull()).count()
    modern = out.where(F.col("o_orderpriority").isNotNull()).count()
    assert legacy_nulls > 0 and modern > 0
    assert legacy_nulls + modern == out.count()
    gens = {"legacy": 0, "evolved": 0}
    for f in glob.glob(f"{target}/part-*.parquet"):
        names = set(pq.read_schema(f).names)
        gens["evolved" if "o_orderpriority" in names else "legacy"] += 1
    assert gens["legacy"] > 0, "day-1 files were rewritten with the new schema"
    assert gens["evolved"] > 0


def test_apply_cdc_ordering_semantics(spark):
    """Handcrafted change log: the per-key HIGHEST seq wins regardless
    of input order, a delete followed by a later re-insert resurrects
    the key, an update applies over a same-log insert, and a delete of
    a key the base never had stays absent."""
    from copy_databasetables_spark.copy.engine import apply_cdc

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    changes = spark.createDataFrame(
        [
            # deliberately shuffled input order — only seq may matter
            (2, "b3", "I", 9),   # resurrect 2 after its delete
            (1, "a2", "U", 1),
            (2, "b2", "D", 5),
            (4, "d1", "I", 2),   # insert a new key ...
            (4, "d2", "U", 3),   # ... then update it in the same log
            (5, "x", "D", 1),    # delete of a key the base never had
            (3, "zz", "D", 7),   # plain delete, never re-inserted
        ],
        "k long, v string, op string, seq long",
    )
    out = {r["k"]: r["v"] for r in apply_cdc(base, changes, "k").collect()}
    assert out == {1: "a2", 2: "b3", 4: "d2"}


def test_apply_cdc_replay_is_idempotent(spark):
    """Applying the same log onto the state it produced changes nothing
    — at-least-once upstream delivery cannot corrupt the target."""
    from copy_databasetables_spark.copy.engine import apply_cdc

    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    changes = spark.createDataFrame(
        [(1, "a2", "U", 1), (2, "b", "D", 2), (3, "c", "I", 3)],
        "k long, v string, op string, seq long",
    )
    once = apply_cdc(base, changes, "k")
    twice = apply_cdc(once, changes, "k")
    a = sorted(map(tuple, once.collect()))
    b = sorted(map(tuple, twice.collect()))
    assert a == b == [(1, "a2"), (3, "c")]
