"""JDBC catalog introspection + DDL scripting — the SMO-Scripter analog
(SURVEY.md §1.1, §3.1 [U]: the reference scripts each table's schema —
columns, nullability, primary key, indexes — then recreates the target
and bulk-loads; /root/reference is empty, so parity cites the survey's
functional reconstruction).

Everything here is standard public JDBC surface reached through Spark's
own JVM (``java.sql.DriverManager`` / ``DatabaseMetaData`` via py4j):

    SMO Table.Columns           → DatabaseMetaData.getColumns
    SMO Table.Indexes / PK      → getPrimaryKeys / getIndexInfo
    SMO Scripter.Script()       → script_create_table / script_indexes
    recreate target             → drop_table_if_exists + CREATE TABLE
    bulk load                   → df.write.format('jdbc').mode('append')
    index build                 → CREATE [UNIQUE] INDEX after load

Scale notes (100 TB): introspection touches only catalog metadata (a
handful of driver-side JDBC calls — no data moves); the row copy itself
streams through executors exactly like sources/jdbc.py. Indexes are
created AFTER the bulk load — building them first would make every
batched INSERT pay index maintenance, the classic bulk-load mistake.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession


@dataclass
class ColumnMeta:
    name: str
    type_name: str  # source-reported SQL type name (e.g. VARCHAR)
    size: int
    decimal_digits: int | None
    nullable: bool
    default: str | None = None  # catalog default expression, verbatim
    identity: bool = False  # auto-increment / GENERATED AS IDENTITY

    def ddl(self) -> str:
        t = self.type_name.upper()
        # Derby binary types report as 'VARCHAR () FOR BIT DATA' etc. —
        # a multi-word TYPE_NAME whose size parameterizes the prefix
        # (naive first-token handling would corrupt these into character
        # columns and break the binary bulk load).
        if "FOR BIT DATA" in t:
            base = t.split(" (")[0].split(" FOR")[0].strip()
            if base in ("VARCHAR", "CHAR"):
                t = f"{base} ({self.size}) FOR BIT DATA"
            else:  # LONG VARCHAR FOR BIT DATA (no length parameter)
                t = "LONG VARCHAR FOR BIT DATA"
        # identity columns may report a decorated TYPE_NAME (e.g.
        # 'BIGINT NOT NULL GENERATED ...'); strip ONLY that suffix —
        # identity itself is scripted explicitly below.
        elif " GENERATED" in t:
            t = t.split(" GENERATED")[0].replace(" NOT NULL", "").strip()
        # parameterized types carry their source precision through
        if t in ("VARCHAR", "CHAR", "CHARACTER", "VARBINARY", "BINARY"):
            t = f"{t}({self.size})"
        elif t in ("DECIMAL", "NUMERIC"):
            t = f"{t}({self.size},{self.decimal_digits or 0})"
        null = "" if self.nullable else " NOT NULL"
        extra = ""
        if self.identity:
            # BY DEFAULT (not ALWAYS): the bulk load must be able to
            # insert the SOURCE's identity values verbatim — ALWAYS
            # would reject explicit values and renumber the copy
            extra = " GENERATED BY DEFAULT AS IDENTITY"
        elif self.default is not None:
            extra = f" DEFAULT {self.default}"
        return f"{self.name} {t}{null}{extra}"


@dataclass
class IndexMeta:
    name: str
    unique: bool
    columns: list[str] = field(default_factory=list)  # in ordinal order
    #: per-column sort direction, parallel to ``columns`` (True = DESC).
    #: JDBC surfaces this as getIndexInfo's ASC_OR_DESC ('A'/'D'); losing
    #: it silently flips a descending composite index into an ascending
    #: one on the copy — the index still exists but no longer serves the
    #: ORDER BY ... DESC scans it was built for.
    descending: list[bool] = field(default_factory=list)

    def spec(self) -> str:
        """Canonical 'col asc,col desc' rendering (introspection reports
        and DDL both derive from this ordering)."""
        return ",".join(
            f"{c} {'desc' if d else 'asc'}"
            for c, d in zip(self.columns, self.descending)
        )


@dataclass
class TriggerMeta:
    """One trigger scripted from the source catalog (Derby
    SYS.SYSTRIGGERS; SQL Server's Scripter option ``Triggers`` is the
    upstream analog [U]). ``definition`` is the triggered-SQL body as
    the catalog stores it (schema-qualified), replayed verbatim."""

    name: str
    event: str  # 'I' | 'U' | 'D'
    firing_time: str  # 'A' (AFTER) | 'B' (NO CASCADE BEFORE)
    row_level: bool  # True = FOR EACH ROW, False = FOR EACH STATEMENT
    definition: str
    table: str
    new_referencing_name: str | None = None
    old_referencing_name: str | None = None

    def ddl(self, target_table: str | None = None) -> str:
        event = {"I": "INSERT", "U": "UPDATE", "D": "DELETE"}[self.event]
        timing = "AFTER" if self.firing_time == "A" else "NO CASCADE BEFORE"
        refs = []
        if self.new_referencing_name:
            kw = "NEW" if self.row_level else "NEW TABLE"
            refs.append(f"{kw} AS {self.new_referencing_name}")
        if self.old_referencing_name:
            kw = "OLD" if self.row_level else "OLD TABLE"
            refs.append(f"{kw} AS {self.old_referencing_name}")
        referencing = f" REFERENCING {' '.join(refs)}" if refs else ""
        each = "ROW" if self.row_level else "STATEMENT"
        return (
            f"CREATE TRIGGER {self.name.lower()}_c {timing} {event} "
            f"ON {target_table or self.table}{referencing} "
            f"FOR EACH {each} {self.definition}"
        )


@dataclass
class GrantMeta:
    """One grantee's table-level privilege set scripted from the source
    catalog (Derby SYS.SYSTABLEPERMS; SQL Server's Scripter option
    ``Permissions`` — the last SMO option not previously carried — is
    the upstream analog [U]). Column-level grants (SYSCOLPERMS) are out
    of scope, as they are for the upstream's object-level scripting."""

    grantee: str
    privileges: list[str]  # subset of the six, in catalog flag order
    table: str

    def ddl(self, target_table: str | None = None) -> str:
        return (
            f"GRANT {', '.join(self.privileges)} "
            f"ON {target_table or self.table} TO {self.grantee.lower()}"
        )


@dataclass
class ForeignKeyMeta:
    name: str
    columns: list[str] = field(default_factory=list)
    ref_table: str = ""
    ref_columns: list[str] = field(default_factory=list)


@dataclass
class TableMeta:
    table: str
    columns: list[ColumnMeta] = field(default_factory=list)
    pk_columns: list[str] = field(default_factory=list)
    indexes: list[IndexMeta] = field(default_factory=list)  # non-PK only
    foreign_keys: list[ForeignKeyMeta] = field(default_factory=list)
    #: verified row count of the copy, set by copy_table_jdbc_with_schema
    rows_copied: int = 0


def _connect(spark: SparkSession, url: str):
    return spark._sc._jvm.java.sql.DriverManager.getConnection(url)  # noqa: SLF001


def introspect_jdbc_table(spark: SparkSession, url: str, table: str) -> TableMeta:
    """Read one table's column/PK/index metadata from the JDBC catalog.

    Unquoted identifiers are stored uppercase by Derby (and most
    ANSI-folding databases); the lookup uppercases to match. Indexes
    that merely back the primary key (system-generated names) are
    excluded from ``indexes`` — they travel as the PK constraint.
    """
    conn = _connect(spark, url)
    try:
        md = conn.getMetaData()
        t = table.upper()

        cols: list[ColumnMeta] = []
        rs = md.getColumns(None, None, t, None)
        while rs.next():
            default = rs.getString("COLUMN_DEF")
            identity = (rs.getString("IS_AUTOINCREMENT") or "").upper() == "YES"
            if default is not None and "AUTOINCREMENT" in default.upper():
                # Derby surfaces identity as a pseudo-default expression
                identity, default = True, None
            cols.append(
                ColumnMeta(
                    name=rs.getString("COLUMN_NAME").lower(),
                    type_name=rs.getString("TYPE_NAME"),
                    size=rs.getInt("COLUMN_SIZE"),
                    decimal_digits=rs.getInt("DECIMAL_DIGITS"),
                    nullable=rs.getInt("NULLABLE") != 0,
                    default=default,
                    identity=identity,
                )
            )
        rs.close()

        pk: list[tuple[int, str]] = []
        rs = md.getPrimaryKeys(None, None, t)
        while rs.next():
            pk.append((rs.getInt("KEY_SEQ"), rs.getString("COLUMN_NAME").lower()))
        rs.close()
        pk_columns = [c for _, c in sorted(pk)]

        # collect (ordinal, column, desc) explicitly rather than trusting
        # result-set row order for composite-index column positions
        ix_cols: dict[str, list[tuple[int, str, bool]]] = {}
        ix_unique: dict[str, bool] = {}
        rs = md.getIndexInfo(None, None, t, False, False)
        while rs.next():
            iname = rs.getString("INDEX_NAME")
            cname = rs.getString("COLUMN_NAME")
            if iname is None or cname is None:  # table statistics rows
                continue
            ix_unique[iname] = not rs.getBoolean("NON_UNIQUE")
            ix_cols.setdefault(iname, []).append(
                (
                    rs.getInt("ORDINAL_POSITION"),
                    cname.lower(),
                    (rs.getString("ASC_OR_DESC") or "A").upper() == "D",
                )
            )
        rs.close()
        by_name = {
            iname: IndexMeta(
                name=iname,
                unique=ix_unique[iname],
                columns=[c for _, c, _ in sorted(cols)],
                descending=[d for _, _, d in sorted(cols)],
            )
            for iname, cols in ix_cols.items()
        }

        # Drop ONLY system-generated backing indexes. Derby conglomerate
        # names are 'SQL' + a digit/hex/hyphen UUID-ish suffix (e.g.
        # SQL0000000081-36e280fc-019f-…) — the PK/unique-constraint
        # backing indexes all match that shape. A user index that merely
        # starts with 'sql' (sql_audit_ix has letters outside hex and an
        # underscore), or a user unique index that happens to cover the
        # PK columns, is a real object and must survive the copy.
        import re

        def _system_named(name: str) -> bool:
            return re.fullmatch(r"SQL[0-9A-F-]+", name.upper()) is not None

        indexes = [ix for ix in by_name.values() if not _system_named(ix.name)]

        fks: dict[str, ForeignKeyMeta] = {}
        rs = md.getImportedKeys(None, None, t)
        while rs.next():
            fname = rs.getString("FK_NAME") or f"fk_{t.lower()}"
            fk = fks.setdefault(
                fname,
                ForeignKeyMeta(
                    name=fname, ref_table=rs.getString("PKTABLE_NAME").lower()
                ),
            )
            fk.columns.append(rs.getString("FKCOLUMN_NAME").lower())
            fk.ref_columns.append(rs.getString("PKCOLUMN_NAME").lower())
        rs.close()

        return TableMeta(
            table=table,
            columns=cols,
            pk_columns=pk_columns,
            indexes=indexes,
            foreign_keys=list(fks.values()),
        )
    finally:
        conn.close()


def introspect_triggers(
    spark: SparkSession, url: str, table: str
) -> list[TriggerMeta]:
    """Read ``table``'s triggers from Derby's SYS.SYSTRIGGERS catalog.
    There is no JDBC DatabaseMetaData API for triggers, so this is a
    plain catalog query — the same move SMO makes against
    sys.triggers [U]. Only enabled ('E') triggers are scripted."""
    conn = _connect(spark, url)
    out: list[TriggerMeta] = []
    try:
        # bound parameter, not string interpolation — a table name
        # containing a quote must not break (or rewrite) the catalog
        # query; every other lookup in this module goes through the
        # parameterized DatabaseMetaData API and this path matches it.
        st = conn.prepareStatement(
            "SELECT t.TRIGGERNAME, t.EVENT, t.FIRINGTIME, t.TYPE, t.STATE,"
            "       t.TRIGGERDEFINITION, t.NEWREFERENCINGNAME,"
            "       t.OLDREFERENCINGNAME, tb.TABLENAME"
            " FROM SYS.SYSTRIGGERS t"
            " JOIN SYS.SYSTABLES tb ON tb.TABLEID = t.TABLEID"
            " WHERE tb.TABLENAME = ?"
        )
        st.setString(1, table.upper())
        rs = st.executeQuery()
        while rs.next():
            if (rs.getString("STATE") or "E") != "E":
                continue
            out.append(
                TriggerMeta(
                    name=rs.getString("TRIGGERNAME"),
                    event=rs.getString("EVENT"),
                    firing_time=rs.getString("FIRINGTIME"),
                    row_level=rs.getString("TYPE") == "R",
                    definition=rs.getString("TRIGGERDEFINITION"),
                    table=rs.getString("TABLENAME").lower(),
                    new_referencing_name=rs.getString("NEWREFERENCINGNAME"),
                    old_referencing_name=rs.getString("OLDREFERENCINGNAME"),
                )
            )
        rs.close()
        st.close()
    finally:
        conn.close()
    return sorted(out, key=lambda t: t.name)


def script_triggers(
    triggers: list[TriggerMeta], target_table: str | None = None
) -> list[str]:
    """CREATE TRIGGER statements. Applied LAST (after loads and FKs,
    like copy_tables_jdbc_with_schema does): a trigger firing during
    the bulk load would re-execute its action per copied row — the
    copy must reproduce the source's STATE, not replay its history."""
    return [t.ddl(target_table) for t in triggers]


#: SYSTABLEPERMS privilege-flag column → GRANT keyword, in the catalog's
#: column order. Flag values: 'N' = not granted, 'y' = granted,
#: 'Y' = granted WITH GRANT OPTION (case is Derby's encoding).
_PRIV_FLAGS = [
    ("SELECTPRIV", "SELECT"),
    ("DELETEPRIV", "DELETE"),
    ("INSERTPRIV", "INSERT"),
    ("UPDATEPRIV", "UPDATE"),
    ("REFERENCESPRIV", "REFERENCES"),
    ("TRIGGERPRIV", "TRIGGER"),
]


def introspect_grants(
    spark: SparkSession, url: str, table: str
) -> list[GrantMeta]:
    """Read ``table``'s table-level grants from Derby's
    SYS.SYSTABLEPERMS catalog. There is no DatabaseMetaData API for
    privileges that Derby implements usefully (getTablePrivileges
    returns empty under embedded Derby), so this is a plain catalog
    query with a bound parameter — the same move SMO makes against
    sys.database_permissions [U]. Requires the database to have been
    created with derby.database.sqlAuthorization=true; on a database
    without SQL authorization the catalog simply holds no rows."""
    conn = _connect(spark, url)
    out: list[GrantMeta] = []
    try:
        st = conn.prepareStatement(
            "SELECT p.GRANTEE,"
            + "".join(f" p.{flag}," for flag, _ in _PRIV_FLAGS)
            + " tb.TABLENAME"
            " FROM SYS.SYSTABLEPERMS p"
            " JOIN SYS.SYSTABLES tb ON tb.TABLEID = p.TABLEID"
            " WHERE tb.TABLENAME = ?"
        )
        st.setString(1, table.upper())
        rs = st.executeQuery()
        while rs.next():
            privs = [
                kw
                for flag, kw in _PRIV_FLAGS
                if (rs.getString(flag) or "N").upper() == "Y"
            ]
            if privs:
                out.append(
                    GrantMeta(
                        grantee=rs.getString("GRANTEE"),
                        privileges=privs,
                        table=rs.getString("TABLENAME").lower(),
                    )
                )
        rs.close()
        st.close()
    finally:
        conn.close()
    return sorted(out, key=lambda g: g.grantee)


def script_grants(
    grants: list[GrantMeta], target_table: str | None = None
) -> list[str]:
    """GRANT statements. Applied LAST (with triggers, after loads):
    permissions attach to the recreated object, so they must follow the
    CREATE, and nothing about the bulk load depends on them."""
    return [g.ddl(target_table) for g in grants]


def script_create_table(meta: TableMeta, target_table: str | None = None) -> str:
    """CREATE TABLE with column types, NOT NULL, and an inline PK
    constraint — the Scripter's table-definition output."""
    name = target_table or meta.table
    parts = [c.ddl() for c in meta.columns]
    if meta.pk_columns:
        parts.append(f"CONSTRAINT pk_{name} PRIMARY KEY ({', '.join(meta.pk_columns)})")
    return f"CREATE TABLE {name} ({', '.join(parts)})"


def script_indexes(meta: TableMeta, target_table: str | None = None) -> list[str]:
    """CREATE [UNIQUE] INDEX statements (issued after the bulk load),
    preserving composite column order and per-column ASC/DESC."""
    name = target_table or meta.table
    out = []
    for ix in meta.indexes:
        uniq = "UNIQUE " if ix.unique else ""
        cols = ", ".join(
            f"{c} DESC" if d else c
            for c, d in zip(ix.columns, ix.descending)
        )
        out.append(f"CREATE {uniq}INDEX {ix.name.lower()}_c ON {name} ({cols})")
    return out


def script_foreign_keys(meta: TableMeta, target_table: str | None = None) -> list[str]:
    """ALTER TABLE ADD CONSTRAINT … FOREIGN KEY statements. Applied
    LAST, after every referenced table is loaded — the same reason the
    reference copies tables in FK order."""
    name = target_table or meta.table
    out = []
    for fk in meta.foreign_keys:
        out.append(
            f"ALTER TABLE {name} ADD CONSTRAINT {fk.name.lower()}_c "
            f"FOREIGN KEY ({', '.join(fk.columns)}) "
            f"REFERENCES {fk.ref_table} ({', '.join(fk.ref_columns)})"
        )
    return out


def execute_ddl(spark: SparkSession, url: str, statements: list[str]) -> None:
    conn = _connect(spark, url)
    try:
        st = conn.createStatement()
        for sql in statements:
            st.execute(sql)
        st.close()
    finally:
        conn.close()


def drop_triggers_if_exist(spark: SparkSession, url: str, table: str) -> None:
    """Drop every trigger defined ON ``table`` (re-run hygiene: a
    trigger whose action references another table blocks that table's
    DROP, so triggers go first, before any table drops)."""
    try:
        triggers = introspect_triggers(spark, url, table)
    except Exception as e:
        # only an absent/fresh DATABASE is benign here (Derby XJ004);
        # with the bound-parameter lookup an absent TABLE just returns
        # zero rows, so any other failure is real and must surface.
        if "XJ004" in str(e) or "not found" in str(e).lower():
            return
        raise
    for t in triggers:
        try:
            execute_ddl(spark, url, [f"DROP TRIGGER {t.name}"])
        except Exception as e:
            if "42X94" not in str(e) and "does not exist" not in str(e):
                raise


def drop_table_if_exists(spark: SparkSession, url: str, table: str) -> None:
    """Derby (like SQL Server < 2016) has no DROP TABLE IF EXISTS; a
    missing table surfaces as a SQLException we swallow by state."""
    try:
        execute_ddl(spark, url, [f"DROP TABLE {table}"])
    except Exception as e:  # py4j wraps the SQLException
        if "42Y55" not in str(e) and "does not exist" not in str(e):
            raise


def copy_table_jdbc_with_schema(
    spark: SparkSession,
    src_url: str,
    dst_url: str,
    table: str,
    target_table: str | None = None,
    batchsize: int = 10_000,
) -> TableMeta:
    """The reference's full per-table job with schema fidelity:
    introspect source → script DDL (columns + NOT NULL + PK) → drop &
    recreate target → bulk-load rows → build secondary indexes.

    The load is verified here: source and target row counts must agree,
    or ``CopyVerificationError`` is raised. Returns the source TableMeta
    with ``rows_copied`` set.
    """
    from copy_databasetables_spark.copy.engine import CopyVerificationError
    from copy_databasetables_spark.sources.jdbc import JdbcReadSpec, JdbcWriteSpec

    target = target_table or table
    meta = introspect_jdbc_table(spark, src_url, table)
    drop_table_if_exists(spark, dst_url, target)
    execute_ddl(spark, dst_url, [script_create_table(meta, target)])
    rows = JdbcReadSpec(url=src_url, table=table).load(spark)
    # append, not overwrite: the scripted table (with its constraints)
    # must survive — overwrite would drop and recreate it constraint-free
    JdbcWriteSpec(url=dst_url, table=target, mode="append", batchsize=batchsize).save(rows)
    n_src = rows.count()
    meta.rows_copied = JdbcReadSpec(url=dst_url, table=target).load(spark).count()
    if meta.rows_copied != n_src:
        raise CopyVerificationError(
            f"{table}: {n_src} source rows, {meta.rows_copied} copied"
        )
    execute_ddl(spark, dst_url, script_indexes(meta, target))
    # Reseed identity counters past the copied values (the DBCC
    # CHECKIDENT step of a SQL Server bulk copy): the fresh target's
    # counter starts at 1, which would collide with keys loaded verbatim.
    for col in meta.columns:
        if col.identity:
            mx = (
                JdbcReadSpec(
                    url=dst_url,
                    query=f"SELECT MAX({col.name}) AS mx FROM {target}",
                )
                .load(spark)
                .collect()[0]["MX"]
            )
            execute_ddl(
                spark,
                dst_url,
                [
                    f"ALTER TABLE {target} ALTER COLUMN {col.name} "
                    f"RESTART WITH {int(mx or 0) + 1}"
                ],
            )
    return meta


def copy_tables_jdbc_with_schema(
    spark: SparkSession,
    src_url: str,
    dst_url: str,
    tables: list[str],
    batchsize: int = 10_000,
) -> list[TableMeta]:
    """Multi-table schema-fidelity copy. ``tables`` must be in FK order
    (parents first) — each table is created and loaded in turn, and
    FOREIGN KEY constraints are applied only after ALL loads finish, so
    child loads never race their parents' constraints (the reference's
    multi-table loop + its FK-ordering requirement, SURVEY.md §3.1).

    Re-runnable: existing targets are dropped children-first (reverse FK
    order) — a parent cannot be dropped while a child's FK references it
    — with each target's triggers dropped before ANY table (a trigger
    action referencing another table blocks that table's drop).

    Triggers and GRANTs are scripted LAST, after every load and FK:
    triggers may reference any copied table, and applying them before
    the bulk load would replay the trigger action once per copied row
    instead of reproducing the source's state; grants attach to the
    recreated objects. On a source without SQL authorization the grant
    catalog is simply empty, so the grant pass is a no-op there.
    """
    for t in reversed(tables):
        drop_triggers_if_exist(spark, dst_url, t)
    for t in reversed(tables):
        drop_table_if_exists(spark, dst_url, t)
    metas = [
        copy_table_jdbc_with_schema(spark, src_url, dst_url, t, batchsize=batchsize)
        for t in tables
    ]
    for meta in metas:
        execute_ddl(spark, dst_url, script_foreign_keys(meta))
    for t in tables:
        execute_ddl(
            spark, dst_url, script_triggers(introspect_triggers(spark, src_url, t))
        )
        execute_ddl(
            spark, dst_url, script_grants(introspect_grants(spark, src_url, t))
        )
    return metas
