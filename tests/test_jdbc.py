"""JDBC option-assembly tests (SURVEY.md §2.1 'unit' rows — no database
is reachable offline, so these pin the option contracts the reference's
copy semantics map onto)."""

from __future__ import annotations

import pytest

from copy_databasetables_spark.sources.jdbc import (
    MSSQL_TO_SPARK,
    JdbcReadSpec,
    JdbcWriteSpec,
)

URL = "jdbc:sqlserver://host;databaseName=db"


def test_read_partitioned_options():
    spec = JdbcReadSpec(
        url=URL,
        table="dbo.orders",
        partition_column="o_orderkey",
        lower_bound=1,
        upper_bound=150_000,
        num_partitions=16,
        fetchsize=5000,
    )
    opts = spec.to_options()
    assert opts["dbtable"] == "dbo.orders"
    assert opts["partitionColumn"] == "o_orderkey"
    assert (opts["lowerBound"], opts["upperBound"]) == ("1", "150000")
    assert opts["numPartitions"] == "16"
    assert opts["fetchsize"] == "5000"


def test_read_query_mode():
    opts = JdbcReadSpec(url=URL, query="SELECT 1 AS x").to_options()
    assert opts["query"] == "SELECT 1 AS x" and "dbtable" not in opts


@pytest.mark.parametrize(
    "kwargs",
    [
        dict(table="t", query="q"),  # both
        dict(),  # neither
        dict(table="t", partition_column="id"),  # partial partition spec
        dict(query="q", partition_column="id", lower_bound=0, upper_bound=1, num_partitions=2),
    ],
)
def test_read_spec_rejects_invalid(kwargs):
    with pytest.raises(ValueError):
        JdbcReadSpec(url=URL, **kwargs).to_options()


def test_write_truncate_overwrite():
    spec = JdbcWriteSpec(
        url=URL, table="dbo.orders", mode="overwrite", truncate=True, batchsize=50_000
    )
    opts = spec.to_options()
    assert opts["truncate"] == "true" and opts["batchsize"] == "50000"


def test_write_rejects_truncate_on_append():
    with pytest.raises(ValueError):
        JdbcWriteSpec(url=URL, table="t", mode="append", truncate=True).to_options()


def test_write_create_table_column_types():
    spec = JdbcWriteSpec(
        url=URL,
        table="t",
        create_table_column_types="o_orderkey BIGINT, o_orderstatus VARCHAR(1)",
    )
    assert "createTableColumnTypes" in spec.to_options()


def test_reader_builds_without_connecting(spark):
    reader = JdbcReadSpec(url=URL, table="t").build(spark)
    assert reader is not None  # lazy: no connection until .load()


def test_mssql_type_map_covers_survey_rows():
    for t in ("bit", "money", "datetime2", "datetimeoffset", "uniqueidentifier", "image"):
        assert t in MSSQL_TO_SPARK
    assert MSSQL_TO_SPARK["datetime"] == "timestamp_ntz"


# ---------------------------------------------------------------------------
# Integration against in-process Apache Derby (shipped with Spark): real
# driver, real DDL/batched-insert/cursor paths — no network needed.
# ---------------------------------------------------------------------------

import os

# per-process db path: stale locks from a killed run otherwise fail the
# next boot with XSDB6
DERBY = f"jdbc:derby:/tmp/spark_graft_derby/t{os.getpid()}_{{n}};create=true"


def test_derby_roundtrip_exact(spark):
    from copy_databasetables_spark.io import load_table

    src = load_table(spark, "/root/testdata/sf0.001", "nation")
    url = DERBY.format(n="nation")
    JdbcWriteSpec(url=url, table="nation", mode="overwrite").save(src)
    back = JdbcReadSpec(url=url, table="nation").load(spark)
    assert back.count() == 25
    assert back.exceptAll(src).count() == 0 and src.exceptAll(back).count() == 0


def test_derby_partitioned_read_has_n_partitions(spark):
    from copy_databasetables_spark.io import load_table

    src = load_table(spark, "/root/testdata/sf0.001", "region")
    url = DERBY.format(n="region")
    JdbcWriteSpec(url=url, table="region", mode="overwrite").save(src)
    df = JdbcReadSpec(
        url=url, table="region", partition_column="r_regionkey",
        lower_bound=0, upper_bound=5, num_partitions=3,
    ).load(spark)
    assert df.rdd.getNumPartitions() == 3
    assert df.count() == 5


def test_derby_append_vs_overwrite(spark):
    from copy_databasetables_spark.io import load_table

    src = load_table(spark, "/root/testdata/sf0.001", "region")
    url = DERBY.format(n="modes")
    JdbcWriteSpec(url=url, table="modes_t", mode="overwrite").save(src)
    JdbcWriteSpec(url=url, table="modes_t", mode="append").save(src)
    assert JdbcReadSpec(url=url, table="modes_t").load(spark).count() == 10
    JdbcWriteSpec(url=url, table="modes_t", mode="overwrite").save(src)
    assert JdbcReadSpec(url=url, table="modes_t").load(spark).count() == 5


def test_copy_table_jdbc_end_to_end(spark):
    """The reference's whole job over a real JDBC boundary: partitioned
    read from one database, batched write into another."""
    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.sources.jdbc import copy_table_jdbc

    src = load_table(spark, "/root/testdata/sf0.001", "nation")
    src_url, dst_url = DERBY.format(n="copysrc"), DERBY.format(n="copydst")
    JdbcWriteSpec(url=src_url, table="nation", mode="overwrite").save(src)
    copy_table_jdbc(
        spark,
        JdbcReadSpec(url=src_url, table="nation", partition_column="n_nationkey",
                     lower_bound=0, upper_bound=25, num_partitions=4),
        JdbcWriteSpec(url=dst_url, table="nation_copy", mode="overwrite", batchsize=10),
    )
    back = JdbcReadSpec(url=dst_url, table="nation_copy").load(spark)
    assert back.exceptAll(src).count() == 0 and src.exceptAll(back).count() == 0


# ---------------------------------------------------------------------------
# Constraint/index introspection + DDL scripting (the SMO-Scripter analog):
# PK, unique and secondary indexes must survive a schema-fidelity copy.
# ---------------------------------------------------------------------------


def _exec(spark, url, statements):
    from copy_databasetables_spark.sources.introspect import execute_ddl

    execute_ddl(spark, url, statements)


def test_introspect_scripts_pk_and_indexes(spark):
    from copy_databasetables_spark.sources.introspect import (
        introspect_jdbc_table,
        script_create_table,
        script_indexes,
    )

    url = DERBY.format(n="meta_src")
    _exec(spark, url, [
        "CREATE TABLE widgets ("
        " w_id BIGINT NOT NULL,"
        " w_name VARCHAR(40) NOT NULL,"
        " w_price DECIMAL(12,2),"
        " w_owner INTEGER,"
        " CONSTRAINT pk_widgets PRIMARY KEY (w_id))",
        "CREATE INDEX ix_owner ON widgets (w_owner)",
        "CREATE UNIQUE INDEX ux_name ON widgets (w_name)",
    ])
    meta = introspect_jdbc_table(spark, url, "widgets")
    assert [c.name for c in meta.columns] == ["w_id", "w_name", "w_price", "w_owner"]
    assert meta.pk_columns == ["w_id"]
    by_name = {ix.name.lower(): ix for ix in meta.indexes}
    assert by_name["ix_owner"].columns == ["w_owner"] and not by_name["ix_owner"].unique
    assert by_name["ux_name"].columns == ["w_name"] and by_name["ux_name"].unique

    ddl = script_create_table(meta, "widgets2")
    assert "w_id BIGINT NOT NULL" in ddl
    assert "w_price DECIMAL(12,2)" in ddl
    assert "PRIMARY KEY (w_id)" in ddl
    idx = "\n".join(script_indexes(meta, "widgets2"))
    assert "CREATE INDEX ix_owner" in idx and "CREATE UNIQUE INDEX ux_name" in idx


def test_copy_with_schema_round_trips_constraints(spark):
    """Full schema-fidelity copy: the target database ends up with the
    source's PK, unique index, secondary index, NOT NULL columns AND all
    rows — then the copied constraints actually enforce (duplicate PK
    insert must fail)."""
    import pytest as _pytest

    from copy_databasetables_spark.sources.introspect import (
        copy_table_jdbc_with_schema,
        introspect_jdbc_table,
    )
    from copy_databasetables_spark.sources.jdbc import JdbcReadSpec

    src_url, dst_url = DERBY.format(n="schm_src"), DERBY.format(n="schm_dst")
    _exec(spark, src_url, [
        "CREATE TABLE parts ("
        " p_id BIGINT NOT NULL,"
        " p_sku VARCHAR(20) NOT NULL,"
        " p_qty INTEGER,"
        " CONSTRAINT pk_parts PRIMARY KEY (p_id))",
        "CREATE UNIQUE INDEX ux_sku ON parts (p_sku)",
        "CREATE INDEX ix_qty ON parts (p_qty)",
        "INSERT INTO parts VALUES (1, 'A-1', 10), (2, 'B-2', 20), (3, 'C-3', NULL)",
    ])
    copy_table_jdbc_with_schema(spark, src_url, dst_url, "parts")

    back = JdbcReadSpec(url=dst_url, table="parts").load(spark)
    assert back.count() == 3
    tmeta = introspect_jdbc_table(spark, dst_url, "parts")
    assert tmeta.pk_columns == ["p_id"]
    assert {c.name for c in tmeta.columns if not c.nullable} == {"p_id", "p_sku"}
    tix = {(ix.unique, tuple(ix.columns)) for ix in tmeta.indexes}
    assert (True, ("p_sku",)) in tix and (False, ("p_qty",)) in tix
    # the copied PK must enforce, not just exist
    with _pytest.raises(Exception, match="(?i)duplicate|unique|constraint"):
        _exec(spark, dst_url, ["INSERT INTO parts VALUES (1, 'DUP', 0)"])


def test_copy_with_schema_verifies_row_counts(spark, monkeypatch):
    """The schema copy checks its own load: a target that ends with
    fewer rows than the source raises CopyVerificationError, and a clean
    copy reports its verified row count."""
    from copy_databasetables_spark.copy.engine import CopyVerificationError
    from copy_databasetables_spark.sources.introspect import (
        copy_table_jdbc_with_schema,
    )

    src_url, dst_url = DERBY.format(n="vfy_src"), DERBY.format(n="vfy_dst")
    _exec(spark, src_url, [
        "CREATE TABLE vfy (v_id INTEGER NOT NULL, v_s VARCHAR(5),"
        " CONSTRAINT pk_vfy PRIMARY KEY (v_id))",
        "INSERT INTO vfy VALUES (1, 'a'), (2, 'b'), (3, 'c')",
    ])
    save = JdbcWriteSpec.save
    with monkeypatch.context() as m:
        m.setattr(
            JdbcWriteSpec, "save", lambda self, df: save(self, df.where("v_id <> 2"))
        )
        with pytest.raises(CopyVerificationError, match="3 source rows, 2 copied"):
            copy_table_jdbc_with_schema(spark, src_url, dst_url, "vfy")
    assert copy_table_jdbc_with_schema(spark, src_url, dst_url, "vfy").rows_copied == 3


def test_copy_with_schema_is_rerunnable(spark):
    """Drop-and-recreate semantics (the reference's drop-existing mode):
    a second run against the same target succeeds and does not duplicate
    rows or indexes."""
    from copy_databasetables_spark.sources.introspect import (
        copy_table_jdbc_with_schema,
        introspect_jdbc_table,
    )
    from copy_databasetables_spark.sources.jdbc import JdbcReadSpec

    src_url, dst_url = DERBY.format(n="rerun_src"), DERBY.format(n="rerun_dst")
    _exec(spark, src_url, [
        "CREATE TABLE evs (e_id INTEGER NOT NULL, e_v VARCHAR(5),"
        " CONSTRAINT pk_evs PRIMARY KEY (e_id))",
        "INSERT INTO evs VALUES (1, 'x'), (2, 'y')",
    ])
    copy_table_jdbc_with_schema(spark, src_url, dst_url, "evs")
    copy_table_jdbc_with_schema(spark, src_url, dst_url, "evs")
    assert JdbcReadSpec(url=dst_url, table="evs").load(spark).count() == 2
    assert introspect_jdbc_table(spark, dst_url, "evs").pk_columns == ["e_id"]


# ---------------------------------------------------------------------------
# MSSQL dialect mapping at the Spark JdbcDialects level (SURVEY.md §1.1):
# no SQL Server is reachable offline, but the dialect object that would
# govern a real connection is on the classpath — assert the survey's
# type-mapping table rows against it directly.
# ---------------------------------------------------------------------------


def _mssql_dialect(spark):
    return spark._sc._jvm.org.apache.spark.sql.jdbc.JdbcDialects.get(
        "jdbc:sqlserver://host;databaseName=db"
    )


def _catalyst_type(spark, dialect, sql_type, type_name, size=0, scale=0):
    jvm = spark._sc._jvm
    md = jvm.org.apache.spark.sql.types.MetadataBuilder()
    opt = dialect.getCatalystType(sql_type, type_name, size, md)
    return opt.get().simpleString() if not opt.isEmpty() else None


def test_mssql_dialect_resolves_for_sqlserver_urls(spark):
    d = _mssql_dialect(spark)
    assert "MsSqlServer" in d.getClass().getName()
    assert d.canHandle("jdbc:sqlserver://x")


def test_mssql_dialect_maps_survey_types(spark):
    """The §1.1 mapping rows the engine owns on a real MSSQL connection.
    java.sql.Types constants: OTHER=1111 (datetimeoffset ships as the
    vendor's microsoft.sql.DateTimeOffset), REAL=7, TINYINT=-6."""
    d = _mssql_dialect(spark)
    # datetimeoffset (vendor type, JDBC OTHER=1111 or ms -155): Spark 4
    # normalizes it to TIMESTAMP (legacy pre-4.0 mapping was string)
    assert _catalyst_type(spark, d, 1111, "datetimeoffset") == "timestamp"
    assert _catalyst_type(spark, d, -155, "datetimeoffset") == "timestamp"
    # REAL → float (Spark's MsSqlServerDialect overrides the default double)
    assert _catalyst_type(spark, d, 7, "real") == "float"
    # TINYINT is unsigned 0-255 on SQL Server; dialect widens to smallint
    assert _catalyst_type(spark, d, -6, "tinyint") == "smallint"
    # types with no dialect override fall back to Spark's JDBC defaults —
    # pin the engine's own documented mapping for those
    from copy_databasetables_spark.sources.jdbc import MSSQL_TO_SPARK

    assert MSSQL_TO_SPARK["money"] == "decimal(19,4)"
    assert MSSQL_TO_SPARK["uniqueidentifier"] == "string"
    assert MSSQL_TO_SPARK["varbinary"] == "binary"
    assert MSSQL_TO_SPARK["datetime2"] == "timestamp_ntz"


def test_mssql_dialect_quotes_identifiers(spark):
    assert _mssql_dialect(spark).quoteIdentifier("my table") == '"my table"'


def test_jdbc_decimal_roundtrip_preserves_precision_scale(spark):
    """DECIMAL(p,s) must survive a real JDBC round trip with its exact
    precision/scale AND its values — the §1.2 type-map promise checked
    end-to-end, not on the mapping dict. src_jdbc_decimal's oracle row
    hash-checks values; this pins the read-back Catalyst schema and the
    NULL stripe."""
    from decimal import Decimal

    from pyspark.sql.types import DecimalType

    from copy_databasetables_spark.operators.scans import (
        _derby_url,
        q_src_jdbc_decimal,
    )
    from copy_databasetables_spark.sources.jdbc import JdbcReadSpec

    sf = "/root/testdata/sf0.001"
    q_src_jdbc_decimal(spark, sf).collect()  # performs the Derby write
    back = JdbcReadSpec(
        url=_derby_url(sf, "decimals"), table="order_decimals"
    ).load(spark)
    types = dict(back.dtypes)
    assert types["price_dec"] == "decimal(12,2)"
    assert types["money_dec"] == "decimal(19,4)"
    assert isinstance(back.schema["price_dec"].dataType, DecimalType)
    row = back.where("o_orderkey = 1").collect()[0]
    # exact decimal arithmetic: 1 * 0.07 stored as DECIMAL(12,2)
    assert row["price_dec"] == Decimal("0.07")
    # the NULL stripe survives as real SQL NULLs
    assert back.where("o_orderkey % 97 = 0").where(
        "money_dec IS NOT NULL"
    ).count() == 0


def test_multi_table_copy_scripts_foreign_keys(spark):
    """Parent/child pair: the schema-fidelity multi-table copy must
    recreate the FK on the target, apply it only after both loads, and
    the copied FK must enforce (orphan child insert fails). Re-running
    the whole copy must also work (children dropped before parents)."""
    import pytest as _pytest

    from copy_databasetables_spark.sources.introspect import (
        copy_tables_jdbc_with_schema,
        introspect_jdbc_table,
    )
    from copy_databasetables_spark.sources.jdbc import JdbcReadSpec

    src_url, dst_url = DERBY.format(n="fk_src"), DERBY.format(n="fk_dst")
    _exec(spark, src_url, [
        "CREATE TABLE dept (d_id INTEGER NOT NULL,"
        " d_name VARCHAR(20),"
        " CONSTRAINT pk_dept PRIMARY KEY (d_id))",
        "CREATE TABLE emp (e_id INTEGER NOT NULL,"
        " e_dept INTEGER,"
        " CONSTRAINT pk_emp PRIMARY KEY (e_id),"
        " CONSTRAINT fk_emp_dept FOREIGN KEY (e_dept) REFERENCES dept (d_id))",
        "INSERT INTO dept VALUES (1, 'eng'), (2, 'ops')",
        "INSERT INTO emp VALUES (10, 1), (11, 2), (12, NULL)",
    ])
    metas = copy_tables_jdbc_with_schema(spark, src_url, dst_url, ["dept", "emp"])
    assert [m.table for m in metas] == ["dept", "emp"]

    emp_meta = introspect_jdbc_table(spark, dst_url, "emp")
    assert len(emp_meta.foreign_keys) == 1
    fk = emp_meta.foreign_keys[0]
    assert fk.columns == ["e_dept"] and fk.ref_table == "dept"
    assert fk.ref_columns == ["d_id"]
    assert JdbcReadSpec(url=dst_url, table="emp").load(spark).count() == 3
    with _pytest.raises(Exception, match="(?i)foreign key|constraint"):
        _exec(spark, dst_url, ["INSERT INTO emp VALUES (13, 99)"])
    # re-run: drop order must handle the FK dependency
    copy_tables_jdbc_with_schema(spark, src_url, dst_url, ["dept", "emp"])
    assert JdbcReadSpec(url=dst_url, table="emp").load(spark).count() == 3


def test_copy_with_schema_scripts_defaults_and_identity(spark):
    """SMO-parity depth: column DEFAULTs and identity columns must
    survive the copy. Identity is scripted BY DEFAULT (not ALWAYS) so
    the bulk load can insert the source's values verbatim; after the
    copy the target must (a) hold identical rows, (b) apply the default
    on omitted columns, and (c) auto-generate identity values."""
    from copy_databasetables_spark.sources.introspect import (
        copy_table_jdbc_with_schema,
        introspect_jdbc_table,
    )
    from copy_databasetables_spark.sources.jdbc import JdbcReadSpec

    src_url, dst_url = DERBY.format(n="dflt_src"), DERBY.format(n="dflt_dst")
    _exec(spark, src_url, [
        "CREATE TABLE logs ("
        " l_id BIGINT NOT NULL GENERATED BY DEFAULT AS IDENTITY,"
        " l_msg VARCHAR(50) NOT NULL,"
        " l_level VARCHAR(10) DEFAULT 'info',"
        " CONSTRAINT pk_logs PRIMARY KEY (l_id))",
        "INSERT INTO logs (l_msg) VALUES ('a'), ('b')",
        "INSERT INTO logs (l_msg, l_level) VALUES ('c', 'error')",
    ])
    meta = introspect_jdbc_table(spark, src_url, "logs")
    by = {c.name: c for c in meta.columns}
    assert by["l_id"].identity
    assert by["l_level"].default is not None and "info" in by["l_level"].default

    copy_table_jdbc_with_schema(spark, src_url, dst_url, "logs")
    back = JdbcReadSpec(url=dst_url, table="logs").load(spark)
    assert back.count() == 3
    # Derby reports unquoted identifiers uppercase over JDBC
    assert {r["L_LEVEL"] for r in back.collect()} == {"info", "error"}
    # (b) default applies on the target for omitted columns,
    # (c) identity generates a fresh key for inserts that omit it
    # (requires the copy to have reseeded the counter past copied keys)
    _exec(spark, dst_url, ["INSERT INTO logs (l_msg) VALUES ('d')"])
    rows = {
        r["L_MSG"]: (r["L_ID"], r["L_LEVEL"])
        for r in JdbcReadSpec(url=dst_url, table="logs").load(spark).collect()
    }
    assert rows["d"][1] == "info"
    assert rows["d"][0] is not None and rows["d"][0] not in {rows["a"][0], rows["b"][0], rows["c"][0]}


def test_introspect_composite_index_order_and_direction(spark):
    """Composite indexes must introspect with ORDINAL column order and
    per-column ASC/DESC, and script back preserving both — ix(a, b DESC)
    scripted as ix(b, a) or all-ASC is a silently weaker index on the
    copy (r7, schema_introspect_indexes' unit twin)."""
    from copy_databasetables_spark.sources.introspect import (
        introspect_jdbc_table,
        script_indexes,
    )

    url = DERBY.format(n="meta_comp")
    _exec(spark, url, [
        "CREATE TABLE gadgets ("
        " g_id BIGINT NOT NULL,"
        " g_cat VARCHAR(10),"
        " g_price DOUBLE,"
        " CONSTRAINT pk_gadgets PRIMARY KEY (g_id))",
        "CREATE INDEX ix_cat_price ON gadgets (g_cat, g_price DESC)",
        "CREATE INDEX ix_price_cat ON gadgets (g_price, g_cat)",
    ])
    meta = introspect_jdbc_table(spark, url, "gadgets")
    by_name = {ix.name.lower(): ix for ix in meta.indexes}
    assert by_name["ix_cat_price"].columns == ["g_cat", "g_price"]
    assert by_name["ix_cat_price"].descending == [False, True]
    assert by_name["ix_cat_price"].spec() == "g_cat asc,g_price desc"
    # same columns, opposite order: a distinct index that must stay so
    assert by_name["ix_price_cat"].columns == ["g_price", "g_cat"]
    assert by_name["ix_price_cat"].descending == [False, False]
    ddl = "\n".join(script_indexes(meta, "gadgets2"))
    assert "CREATE INDEX ix_cat_price_c ON gadgets2 (g_cat, g_price DESC)" in ddl
    assert "CREATE INDEX ix_price_cat_c ON gadgets2 (g_price, g_cat)" in ddl


def test_trigger_introspect_and_script_round_trip(spark):
    """TriggerMeta: SYS.SYSTRIGGERS introspection captures event,
    timing, granularity and REFERENCING alias; the scripted DDL
    replays on a second database and the replayed trigger FIRES (r7,
    schema_introspect_triggers' unit twin)."""
    from copy_databasetables_spark.sources.introspect import (
        drop_table_if_exists,
        drop_triggers_if_exist,
        execute_ddl,
        introspect_triggers,
        script_triggers,
    )
    from copy_databasetables_spark.sources.jdbc import JdbcReadSpec

    src = DERBY.format(n="trig_unit_src")
    dst = DERBY.format(n="trig_unit_dst")
    for url in (src, dst):
        drop_triggers_if_exist(spark, url, "tt")
        drop_table_if_exists(spark, url, "tt_log")
        drop_table_if_exists(spark, url, "tt")
        execute_ddl(spark, url, [
            "CREATE TABLE tt (t_id BIGINT NOT NULL)",
            "CREATE TABLE tt_log (l_id BIGINT)",
        ])
    execute_ddl(spark, src, [
        "CREATE TRIGGER trg_tt AFTER INSERT ON tt REFERENCING NEW AS NR"
        " FOR EACH ROW INSERT INTO tt_log VALUES (NR.t_id)",
    ])
    (t,) = introspect_triggers(spark, src, "tt")
    assert (t.event, t.firing_time, t.row_level) == ("I", "A", True)
    assert t.new_referencing_name == "NR" and t.old_referencing_name is None
    ddl = script_triggers([t])
    assert ddl == [
        "CREATE TRIGGER trg_tt_c AFTER INSERT ON tt REFERENCING NEW AS NR "
        'FOR EACH ROW INSERT INTO "APP"."TT_LOG" VALUES (NR.t_id)'
    ]
    execute_ddl(spark, dst, ddl)
    execute_ddl(spark, dst, ["INSERT INTO tt VALUES (77)"])
    logged = JdbcReadSpec(url=dst, table="tt_log").load(spark).collect()
    assert [r["L_ID"] for r in logged] == [77]


def test_trigger_introspect_quoted_table_name_is_safe(spark):
    """The SYSTRIGGERS lookup binds the table name as a parameter (r7
    ADVICE): a name containing a quote must neither raise a SQL syntax
    error nor rewrite the query — it simply matches nothing."""
    from copy_databasetables_spark.sources.introspect import introspect_triggers

    url = DERBY.format(n="trig_quote")
    assert introspect_triggers(spark, url, "x'y --") == []


def test_grant_introspect_and_script_round_trip(spark):
    """GrantMeta: SYS.SYSTABLEPERMS introspection under Derby SQL
    authorization captures each grantee's table-privilege set; the
    scripted GRANTs replay on a second database and are ENFORCED there
    (r8, schema_introspect_grants' unit twin)."""
    from copy_databasetables_spark.sources.introspect import (
        drop_table_if_exists,
        execute_ddl,
        introspect_grants,
        script_grants,
    )

    jvm = spark._sc._jvm  # noqa: SLF001
    sysprops = jvm.java.lang.System
    src = DERBY.format(n="grant_unit_src")
    dst = DERBY.format(n="grant_unit_dst")
    prev = sysprops.getProperty("derby.database.sqlAuthorization")
    sysprops.setProperty("derby.database.sqlAuthorization", "true")
    try:
        jvm.java.sql.DriverManager.getConnection(src).close()
        jvm.java.sql.DriverManager.getConnection(dst).close()
    finally:
        if prev is None:
            sysprops.clearProperty("derby.database.sqlAuthorization")
        else:
            sysprops.setProperty("derby.database.sqlAuthorization", prev)
    for url in (src, dst):
        drop_table_if_exists(spark, url, "gt")
        execute_ddl(spark, url, ["CREATE TABLE gt (g_id BIGINT NOT NULL)"])
    execute_ddl(spark, src, [
        "INSERT INTO gt VALUES (1), (2)",
        "GRANT SELECT ON gt TO reader",
        "GRANT SELECT, INSERT, UPDATE ON gt TO writer",
    ])
    grants = introspect_grants(spark, src, "gt")
    assert [(g.grantee, g.privileges) for g in grants] == [
        ("READER", ["SELECT"]),
        ("WRITER", ["SELECT", "INSERT", "UPDATE"]),
    ]
    # a database without authorization (or a table without grants)
    # reports an empty catalog, and grant names with quotes are safe
    assert introspect_grants(spark, src, "absent'tbl") == []

    ddl = script_grants(grants, "gt")
    assert ddl == [
        "GRANT SELECT ON gt TO reader",
        "GRANT SELECT, INSERT, UPDATE ON gt TO writer",
    ]
    execute_ddl(spark, dst, ddl)
    assert [(g.grantee, g.privileges) for g in introspect_grants(spark, dst, "gt")] \
        == [(g.grantee, g.privileges) for g in grants]
    # live enforcement on the target: reader can SELECT, cannot INSERT
    reader = jvm.java.sql.DriverManager.getConnection(dst + ";user=reader")
    try:
        st = reader.createStatement()
        rs = st.executeQuery("SELECT COUNT(*) AS c FROM APP.gt")
        rs.next()
        assert rs.getInt("c") == 0  # dst table is empty; the SELECT itself passing is the grant
        rs.close()
        with pytest.raises(Exception) as ei:
            st.execute("INSERT INTO APP.gt VALUES (9)")
        assert "42500" in str(ei.value)
        st.close()
    finally:
        reader.close()
