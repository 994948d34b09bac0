"""Seeded differential query fuzzer — generated plans, two engines, one AST.

The fixed oracle registry (tools/check.py) proves the ~194 hand-written
queries agree between Spark and DuckDB; this tool probes the space
BETWEEN those points. Each seed deterministically generates a small
query AST (scan → filter → project / group-agg / join-agg / top-k /
window / set-op / subquery / rollup, plus the r9 array/text shapes:
token explode+agg, higher-order array projections, array-derived
grouped aggregation) and emits BOTH executions from the same tree:

  * a PySpark DataFrame plan (``GenQuery.build``), and
  * the equivalent ANSI SQL run by DuckDB (``GenQuery.sql``),

then compares them with the exact comparator the correctness gate uses
(``check.compare``: column names + order-insensitive canonical multiset).
A divergence is either an engine-semantics trap (null ordering, count
distinct, date truncation...) or a generator bug — both worth knowing.

Cross-engine exactness rules (the same discipline the registry uses):

  * double SUMs go through the repo's cents idiom
    ``FLOOR(x * 100 + 0.5) :: BIGINT`` — identical IEEE arithmetic on
    both sides, associative bigint accumulation after it;
  * DuckDB ``SUM(BIGINT)`` returns HUGEINT (which ``.df()`` would
    silently float) — every generated SUM is wrapped in
    ``CAST(... AS BIGINT)``;
  * ORDER BY is only ever used under LIMIT, always over ALL projected
    columns with explicit ``ASC NULLS FIRST`` on both engines (Spark's
    default; DuckDB's is NULLS LAST), making the sorted tuple sequence
    unique and the LIMIT-k multiset deterministic;
  * numeric/timestamp literals are DuckDB-sampled quantiles of the
    actual column at the target SF, so predicates stay selective at any
    scale factor while remaining deterministic per (seed, sf).

Usage:
    python tools/fuzz_differential.py                 # seeds 0..49 at sf0.001
    python tools/fuzz_differential.py --seeds 200 --sf sf0.01
    python tools/fuzz_differential.py --seed-list 7 13 42 --show

Scale note (100 TB): the generated plans are ordinary declarative
DataFrame queries — filters and projections push into the parquet scan,
aggregates are two-phase, joins are FK equi-joins Catalyst is free to
broadcast. The fuzzer exercises the same code paths the operator
library rides; nothing here collects more than the bounded (≤ limit or
≤ group-count) result.
"""

from __future__ import annotations

import argparse
import os
import random
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from copy_databasetables_spark.io import load_table  # noqa: E402

# ---------------------------------------------------------------- metadata

#: Typed column inventory (FIXTURES.md schemas). "lowcard" strings are
#: safe for sampled equality/IN predicates and group keys; high-card
#: strings (names) are only probed with LIKE.
META = {
    "lineitem": {
        "ints": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"],
        "doubles": ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "lowcard": ["l_returnflag", "l_linestatus"],
        "likeable": ["l_returnflag"],
        "ts": ["l_shipdate"],
    },
    "orders": {
        "ints": ["o_orderkey", "o_custkey"],
        "doubles": ["o_totalprice"],
        "lowcard": ["o_orderstatus", "o_orderpriority"],
        "likeable": ["o_orderpriority"],
        "ts": ["o_orderdate"],
    },
    "customer": {
        "ints": ["c_custkey", "c_nationkey"],
        "doubles": ["c_acctbal"],
        "lowcard": ["c_mktsegment"],
        "likeable": ["c_name"],
        "ts": [],
    },
    "part": {
        "ints": ["p_partkey", "p_size"],
        "doubles": ["p_retailprice"],
        "lowcard": ["p_brand"],
        "likeable": ["p_type", "p_name"],
        "ts": [],
    },
    "supplier": {
        "ints": ["s_suppkey", "s_nationkey"],
        "doubles": ["s_acctbal"],
        "lowcard": [],
        "likeable": ["s_name"],
        "ts": [],
    },
    # events.ts may be physically TIMESTAMP(NANOS) (io.py's encoding
    # branch): Spark reads it floor-truncated to µs while DuckDB keeps
    # ns. Second-aligned comparison literals are floor-consistent under
    # both encodings (floor_us(x) OP T ⟺ x OP T for aligned T), but
    # MIN/MAX would surface the raw ns digits — ts_exact=False keeps
    # ts out of the minmax agg pool for this table only.
    "events": {
        "ints": ["event_id", "user_id"],
        "doubles": ["value"],
        "lowcard": ["event_type"],
        "likeable": ["props"],
        "ts": ["ts"],
        "ts_exact": False,
    },
    "documents": {
        "ints": ["doc_id", "n_chars"],
        "doubles": [],
        "lowcard": ["lang", "source"],
        "likeable": ["text"],
        "ts": [],
    },
    # join-only for the GENERIC shapes: no string columns, and the raw
    # float[] is never projected as-is (float[] canonicalization is
    # engine-specific noise a differential doesn't need). It still
    # participates as the dim side of documents⋈embeddings, and the r9
    # array shapes (array_project_topk / array_group_agg) target it
    # directly via _array_expr's scaled-int derivations.
    "embeddings": {
        "ints": ["vec_id", "label"],
        "doubles": [],
        "lowcard": [],
        "likeable": [],
        "ts": [],
        "join_only": True,
    },
}

#: FK equi-join pairs (fact, dim, fact_key, dim_key).
JOINS = [
    ("lineitem", "orders", "l_orderkey", "o_orderkey"),
    ("lineitem", "part", "l_partkey", "p_partkey"),
    ("lineitem", "supplier", "l_suppkey", "s_suppkey"),
    ("orders", "customer", "o_custkey", "c_custkey"),
    ("documents", "embeddings", "doc_id", "vec_id"),
]

#: Tables eligible for the single-table shapes (join-only tables are
#: reachable solely through JOINS).
SCAN_TABLES = [t for t in META if not META[t].get("join_only")]

#: Unique-row tiebreak columns per table (PKs), for deterministic
#: within-partition window ordering.
PK = {
    "lineitem": ["l_orderkey", "l_linenumber"],
    "orders": ["o_orderkey"],
    "customer": ["c_custkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
}

_NUM_OPS = ["<", "<=", ">", ">=", "=", "<>"]
_QUANTILES = [0.1, 0.25, 0.5, 0.75, 0.9]


class Expr:
    """One projected/compared expression, emitted for both engines."""

    def __init__(self, col, sql: str):
        self.col = col  # pyspark Column
        self.sql = sql  # DuckDB SQL text


class GenQuery:
    def __init__(self, seed: int, shape: str, table: str, sql: str, builder):
        self.seed = seed
        self.shape = shape
        self.table = table
        self.sql = sql
        self._builder = builder

    def build(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        return self._builder(spark, sf_dir)


class Gen:
    """Deterministic query generator: one instance per (sf_dir, duckdb con).

    Literal sampling runs tiny DuckDB aggregates once per (table, col)
    and caches them, so a 200-seed sweep issues a handful of scans.
    """

    def __init__(self, con, sf_dir: str):
        self.con = con
        self.sf_dir = sf_dir
        self._lit_cache: dict[tuple[str, str, float], object] = {}
        self._distinct_cache: dict[tuple[str, str], list] = {}

    # ----------------------------------------------------------- sampling

    def _quantile(self, table: str, col: str, q: float):
        key = (table, col, q)
        if key not in self._lit_cache:
            (v,) = self.con.execute(
                f"SELECT quantile_cont({col}, {q}) FROM {table}"
            ).fetchone()
            self._lit_cache[key] = v
        return self._lit_cache[key]

    def _distinct(self, table: str, col: str) -> list:
        key = (table, col)
        if key not in self._distinct_cache:
            rows = self.con.execute(
                f"SELECT DISTINCT {col} FROM {table} WHERE {col} IS NOT NULL "
                f"ORDER BY {col} LIMIT 40"
            ).fetchall()
            self._distinct_cache[key] = [r[0] for r in rows]
        return self._distinct_cache[key]

    # --------------------------------------------------------- predicates

    def _pred_atom(self, rng: random.Random, table: str) -> Expr:
        m = META[table]
        kinds = ["num", "num", "mod"]
        if m["lowcard"] or m["likeable"]:
            kinds.append("str")
        if m["ts"]:
            kinds.append("ts")
        kind = rng.choice(kinds)
        if kind == "num":
            col = rng.choice(m["doubles"] + m["ints"])
            op = rng.choice(_NUM_OPS)
            v = self._quantile(table, col, rng.choice(_QUANTILES))
            if col in m["ints"]:
                v = int(v)
                lit_sql = str(v)
            else:
                v = float(v)
                lit_sql = repr(v)
            c = F.col(col)
            ops = {
                "<": c < v, "<=": c <= v, ">": c > v,
                ">=": c >= v, "=": c == v, "<>": c != v,
            }
            return Expr(ops[op], f"{col} {op} {lit_sql}")
        if kind == "mod":
            col = rng.choice(m["ints"])
            k = rng.randint(2, 9)
            r = rng.randrange(k)
            return Expr(F.col(col) % k == r, f"{col} % {k} = {r}")
        if kind == "ts":
            col = rng.choice(m["ts"])
            op = rng.choice(["<", ">="])
            v = self._quantile(table, col, rng.choice(_QUANTILES))
            # Second-aligned literal: floor-consistent even when the
            # physical encoding is ns on one side and µs on the other
            # (see the events META note).
            iso = v.isoformat(sep=" ")[:19]
            c = F.col(col)
            cond = c < F.lit(iso).cast("timestamp") if op == "<" else (
                c >= F.lit(iso).cast("timestamp"))
            return Expr(cond, f"{col} {op} TIMESTAMP '{iso}'")
        # string predicate
        if m["lowcard"] and rng.random() < 0.7:
            col = rng.choice(m["lowcard"])
            vals = self._distinct(table, col)
            if vals:
                pick = rng.sample(vals, k=min(len(vals), rng.randint(1, 3)))
                in_sql = ", ".join("'" + v.replace("'", "''") + "'" for v in pick)
                return Expr(F.col(col).isin(pick), f"{col} IN ({in_sql})")
        col = rng.choice(m["likeable"])
        pat = "%" + "".join(rng.choice("aeionrst") for _ in range(rng.randint(1, 2))) + "%"
        return Expr(F.col(col).like(pat), f"{col} LIKE '{pat}'")

    def _predicate(self, rng: random.Random, table: str) -> Expr:
        # Bias toward single atoms and OR-combination: stacked ANDs of
        # quantile predicates go near-empty at small SFs, and an empty
        # result only exercises the schema comparison.
        n = 1 if rng.random() < 0.5 else rng.randint(2, 3)
        atoms = [self._pred_atom(rng, table) for _ in range(n)]
        expr = atoms[0]
        for nxt in atoms[1:]:
            if rng.random() < 0.35:
                expr = Expr(expr.col & nxt.col, f"({expr.sql}) AND ({nxt.sql})")
            else:
                expr = Expr(expr.col | nxt.col, f"({expr.sql}) OR ({nxt.sql})")
        return expr

    # --------------------------------------------------------- aggregates

    def _aggs(self, rng: random.Random, tables: list[str], n: int) -> list[Expr]:
        out = [Expr(F.count(F.lit(1)).cast("bigint").alias("agg0"),
                    "CAST(COUNT(*) AS BIGINT) AS agg0")]
        for i in range(1, n):
            table = rng.choice(tables)
            m = META[table]
            kind = rng.choice(["sum_int", "cents", "minmax", "cdist"])
            if kind == "cents" and not m["doubles"]:
                kind = "sum_int"
            name = f"agg{i}"
            if kind == "sum_int":
                col = rng.choice(m["ints"])
                if rng.random() < 0.25:
                    # Null-skipping SUM over injected nulls; an all-null
                    # group must yield NULL (not 0) in both engines.
                    k, r = rng.randint(2, 9), 0
                    r = rng.randrange(k)
                    out.append(Expr(
                        F.sum(F.nullif(F.col(col) % k, F.lit(r)))
                        .cast("bigint").alias(name),
                        f"CAST(SUM(NULLIF({col} % {k}, {r})) AS BIGINT)"
                        f" AS {name}"))
                else:
                    out.append(Expr(
                        F.sum(col).cast("bigint").alias(name),
                        f"CAST(SUM({col}) AS BIGINT) AS {name}"))
            elif kind == "cents":
                col = rng.choice(m["doubles"])
                out.append(Expr(
                    F.sum(F.floor(F.col(col) * 100 + F.lit(0.5)).cast("bigint"))
                    .cast("bigint").alias(name),
                    f"CAST(SUM(CAST(FLOOR({col} * 100 + 0.5) AS BIGINT)) AS BIGINT)"
                    f" AS {name}"))
            elif kind == "minmax":
                ts_pool = m["ts"] if m.get("ts_exact", True) else []
                col = rng.choice(m["ints"] + m["doubles"] + m["lowcard"] + ts_pool)
                fn = rng.choice(["min", "max"])
                out.append(Expr(
                    getattr(F, fn)(col).alias(name), f"{fn.upper()}({col}) AS {name}"))
            else:
                col = rng.choice(m["ints"] + m["lowcard"])
                if col in m["ints"] and rng.random() < 0.25:
                    # COUNT(DISTINCT) must ignore injected nulls in
                    # both engines.
                    k = rng.randint(2, 9)
                    r = rng.randrange(k)
                    out.append(Expr(
                        F.count_distinct(F.nullif(F.col(col) % k, F.lit(r)))
                        .cast("bigint").alias(name),
                        f"CAST(COUNT(DISTINCT NULLIF({col} % {k}, {r}))"
                        f" AS BIGINT) AS {name}"))
                else:
                    out.append(Expr(
                        F.count_distinct(F.col(col)).cast("bigint").alias(name),
                        f"CAST(COUNT(DISTINCT {col}) AS BIGINT) AS {name}"))
        return out

    def _group_keys(self, rng: random.Random, table: str, n: int) -> list[Expr]:
        m, keys, used = META[table], [], set()
        for i in range(n):
            name = f"k{i}"
            kind = rng.choice(
                ["str", "mod", "ts"] if m["ts"] and m["lowcard"]
                else (["str", "mod"] if m["lowcard"] else ["mod"]))
            if kind == "str":
                col = rng.choice(m["lowcard"])
                if col in used:
                    kind = "mod"
                else:
                    used.add(col)
                    # The testdata is null-free, so ~1/3 of string keys
                    # inject a NULL group via NULLIF on a sampled value
                    # — probing null-group semantics (GROUP BY NULL is
                    # one group in both engines) the raw data never
                    # exercises.
                    vals = self._distinct(table, col)
                    if vals and rng.random() < 0.35:
                        v = rng.choice(vals).replace("'", "''")
                        keys.append(Expr(
                            F.nullif(F.col(col), F.lit(v)).alias(name),
                            f"NULLIF({col}, '{v}') AS {name}"))
                    else:
                        keys.append(Expr(F.col(col).alias(name),
                                         f"{col} AS {name}"))
                    continue
            if kind == "ts":
                col = rng.choice(m["ts"])
                keys.append(Expr(
                    F.date_trunc("month", F.col(col)).alias(name),
                    f"date_trunc('month', {col}) AS {name}"))
                continue
            col = rng.choice(m["ints"])
            k = rng.randint(2, 12)
            if rng.random() < 0.25:
                r = rng.randrange(k)
                # NULL int key: count/sum skip it, the group still
                # exists — both engines must agree on both effects.
                keys.append(Expr(
                    F.nullif(F.col(col) % k, F.lit(r)).alias(name),
                    f"NULLIF({col} % {k}, {r}) AS {name}"))
            else:
                keys.append(Expr((F.col(col) % k).alias(name),
                                 f"{col} % {k} AS {name}"))
        return keys

    # ----------------------------------------------------- scalar exprs

    def _scalar_expr(self, rng: random.Random, table: str, name: str) -> Expr:
        """One computed projection column — the scalar-function surface
        (string ops, date parts, integer arithmetic, CASE) where engine
        semantics most often quietly diverge. Only constructs with
        identical cross-engine semantics on THIS data are generated:
        integer div/mod operands are non-negative (Spark `div` truncates
        toward zero, DuckDB `//` floors — equal only for non-negatives),
        SUBSTR is 1-based in both, both LENGTHs count chars."""
        m = META[table]
        kinds = ["upper", "substr", "length", "arith", "coalesce"]
        if m["doubles"]:
            kinds.append("case")
        if m["ts"]:
            kinds.append("datepart")
        kind = rng.choice(kinds)
        if kind == "datepart":
            col = rng.choice(m["ts"])
            part = rng.choice(["year", "month", "day"])
            return Expr(
                getattr(F, part)(col).cast("bigint").alias(name),
                f"CAST(EXTRACT({part.upper()} FROM {col}) AS BIGINT) AS {name}")
        strpool = m["lowcard"] + m["likeable"]
        if kind == "upper":
            col = rng.choice(strpool)
            fn = rng.choice([("upper", F.upper), ("lower", F.lower)])
            return Expr(fn[1](col).alias(name), f"{fn[0].upper()}({col}) AS {name}")
        if kind == "substr":
            col = rng.choice(strpool)
            pos, ln = rng.randint(1, 3), rng.randint(1, 4)
            return Expr(F.substring(col, pos, ln).alias(name),
                        f"SUBSTR({col}, {pos}, {ln}) AS {name}")
        if kind == "length":
            col = rng.choice(strpool)
            return Expr(F.length(col).cast("bigint").alias(name),
                        f"CAST(LENGTH({col}) AS BIGINT) AS {name}")
        if kind == "arith":
            a, b = rng.choice(m["ints"]), rng.choice(m["ints"])
            d, k = rng.randint(2, 13), rng.randint(2, 7)
            return Expr(
                (F.expr(f"{a} div {d}") + F.col(b) % k).cast("bigint").alias(name),
                f"CAST({a} // {d} + {b} % {k} AS BIGINT) AS {name}")
        if kind == "case":
            col = rng.choice(m["doubles"])
            v = self._quantile(table, col, rng.choice(_QUANTILES))
            return Expr(
                F.when(F.col(col) > float(v), F.lit("hi"))
                .when(F.col(col) > float(v) / 2, F.lit("mid"))
                .otherwise(F.lit("lo")).alias(name),
                f"CASE WHEN {col} > {v!r} THEN 'hi' "
                f"WHEN {col} > {v / 2!r} THEN 'mid' ELSE 'lo' END AS {name}")
        col = rng.choice(strpool)
        if col in m["lowcard"] and rng.random() < 0.4:
            # NULLIF instead of COALESCE: emits real NULLs that then
            # flow through the NULLS FIRST top-k order — null-ordering
            # coverage the null-free testdata can't provide.
            vals = self._distinct(table, col)
            if vals:
                v = rng.choice(vals).replace("'", "''")
                return Expr(F.nullif(F.col(col), F.lit(v)).alias(name),
                            f"NULLIF({col}, '{v}') AS {name}")
        return Expr(F.coalesce(F.col(col), F.lit("<none>")).alias(name),
                    f"COALESCE({col}, '<none>') AS {name}")

    # ------------------------------------------------ array / text exprs

    #: embeddings.embedding is FLOAT[64] at every shipped SF (verified:
    #: min(len)=max(len)=64) — element indexes 0..63 are always valid
    #: and list_sum/aggregate never see an empty array (whose NULL-vs-0
    #: semantics differ cross-engine).
    _EMB_DIM = 64

    def _array_expr(self, rng: random.Random, name: str) -> Expr:
        """One embedding-derived scalar with exact cross-engine
        semantics. Float elements are CAST to DOUBLE before arithmetic
        (float32→float64 is exact, then both engines run identical IEEE
        double ops) and every float-valued result goes through the
        repo's scaled-int idiom FLOOR(x*1000 + 0.5)::BIGINT, so
        accumulation order can never skew a hash. The per-element
        transform+fold (ssum) and predicate filter (npos) are the
        higher-order-function differential surface; elem/smax probe
        indexing (Spark 0-based getItem vs DuckDB 1-based [i]) and
        list extrema."""
        kind = rng.choice(["ssum", "elem", "npos", "smax"])
        if kind == "ssum":
            return Expr(
                F.aggregate(
                    F.transform(
                        "embedding",
                        lambda x: F.floor(x.cast("double") * 1000 + F.lit(0.5))
                        .cast("bigint"),
                    ),
                    F.lit(0).cast("bigint"),
                    lambda a, x: a + x,
                ).alias(name),
                "CAST(list_sum(list_transform(embedding, "
                "x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)))"
                f" AS BIGINT) AS {name}")
        if kind == "elem":
            i = rng.randrange(self._EMB_DIM)
            return Expr(
                F.floor(F.col("embedding").getItem(i).cast("double") * 1000
                        + F.lit(0.5)).cast("bigint").alias(name),
                f"CAST(FLOOR(CAST(embedding[{i + 1}] AS DOUBLE) * 1000 + 0.5)"
                f" AS BIGINT) AS {name}")
        if kind == "npos":
            t = rng.choice([-0.5, -0.1, 0.0, 0.1, 0.5])
            return Expr(
                F.size(
                    F.filter("embedding", lambda x: x.cast("double") > F.lit(t))
                ).cast("bigint").alias(name),
                f"CAST(len(list_filter(embedding, "
                f"x -> CAST(x AS DOUBLE) > {t!r})) AS BIGINT) AS {name}")
        fn, duck = rng.choice([("array_max", "list_max"),
                               ("array_min", "list_min")])
        return Expr(
            F.floor(getattr(F, fn)("embedding").cast("double") * 1000
                    + F.lit(0.5)).cast("bigint").alias(name),
            f"CAST(FLOOR(CAST({duck}(embedding) AS DOUBLE) * 1000 + 0.5)"
            f" AS BIGINT) AS {name}")

    # ------------------------------------------------------------- shapes

    SHAPES = ["filter_topk", "group_agg", "join_agg", "join_topk",
              "scalar_topk", "setop", "window_rank", "outer_join_agg",
              "subquery_filter", "rollup_agg", "scalar_subquery",
              "text_token_agg", "array_project_topk", "array_group_agg",
              "text_phrase"]

    def generate(self, seed: int) -> GenQuery:
        rng = random.Random(seed)
        shape = rng.choice(self.SHAPES)
        return getattr(self, f"_gen_{shape}")(rng, seed)

    def _topk_tail(self, colnames: list[str], k: int) -> str:
        order = ", ".join(f"{c} ASC NULLS FIRST" for c in colnames)
        return f" ORDER BY {order} LIMIT {k}"

    def _spark_topk(self, df: DataFrame, colnames: list[str], k: int) -> DataFrame:
        return df.orderBy(*[F.col(c).asc_nulls_first() for c in colnames]).limit(k)

    def _gen_filter_topk(self, rng: random.Random, seed: int) -> GenQuery:
        table = rng.choice(SCAN_TABLES)
        m = META[table]
        pred = self._predicate(rng, table)
        pool = m["ints"] + m["doubles"] + m["lowcard"] + m["ts"]
        cols = rng.sample(pool, k=min(len(pool), rng.randint(2, 4)))
        k = rng.choice([10, 25, 100])
        sql = (f"SELECT {', '.join(cols)} FROM {table} WHERE {pred.sql}"
               + self._topk_tail(cols, k))

        def build(spark, sf_dir, table=table, pred=pred, cols=cols, k=k):
            df = load_table(spark, sf_dir, table).where(pred.col).select(*cols)
            return self._spark_topk(df, cols, k)

        return GenQuery(seed, "filter_topk", table, sql, build)

    def _gen_group_agg(self, rng: random.Random, seed: int) -> GenQuery:
        table = rng.choice(SCAN_TABLES)
        pred = self._predicate(rng, table)
        keys = self._group_keys(rng, table, rng.randint(1, 2))
        aggs = self._aggs(rng, [table], rng.randint(2, 4))
        having = rng.random() < 0.4
        key_sql = ", ".join(e.sql for e in keys)
        key_names = ", ".join(f"k{i}" for i in range(len(keys)))
        agg_sql = ", ".join(e.sql for e in aggs)
        sql = (f"SELECT {key_sql}, {agg_sql} FROM {table} WHERE {pred.sql} "
               f"GROUP BY {key_names}")
        if having:
            sql += " HAVING CAST(COUNT(*) AS BIGINT) > 2"

        def build(spark, sf_dir, table=table, pred=pred, keys=keys, aggs=aggs,
                  having=having):
            df = (load_table(spark, sf_dir, table).where(pred.col)
                  .groupBy(*[e.col for e in keys]).agg(*[e.col for e in aggs]))
            if having:
                df = df.where(F.col("agg0") > 2)
            return df

        return GenQuery(seed, "group_agg", table, sql, build)

    def _gen_scalar_topk(self, rng: random.Random, seed: int) -> GenQuery:
        """Computed projections over a filtered scan: the scalar-function
        differential surface."""
        table = rng.choice(SCAN_TABLES)
        pred = self._predicate(rng, table)
        nexpr = rng.randint(2, 4)
        exprs = [self._scalar_expr(rng, table, f"c{i}") for i in range(nexpr)]
        names = [f"c{i}" for i in range(nexpr)]
        k = rng.choice([10, 25, 100])
        sql = (f"SELECT {', '.join(e.sql for e in exprs)} FROM {table} "
               f"WHERE {pred.sql}" + self._topk_tail(names, k))

        def build(spark, sf_dir, table=table, pred=pred, exprs=exprs,
                  names=names, k=k):
            df = (load_table(spark, sf_dir, table).where(pred.col)
                  .select(*[e.col for e in exprs]))
            return self._spark_topk(df, names, k)

        return GenQuery(seed, "scalar_topk", table, sql, build)

    def _gen_setop(self, rng: random.Random, seed: int) -> GenQuery:
        """Set operations over two predicate slices of one table — the
        ALL variants probe bag semantics row-for-row; the DISTINCT
        variants (plain UNION/EXCEPT/INTERSECT, added in the r8
        continuation) probe the set-dedup path, where both engines must
        treat NULLs as EQUAL (SQL set ops use distinct-row identity,
        not predicate equality)."""
        table = rng.choice(SCAN_TABLES)
        m = META[table]
        p1 = self._predicate(rng, table)
        p2 = self._predicate(rng, table)
        pool = m["ints"] + m["lowcard"]
        cols = rng.sample(pool, k=min(len(pool), rng.randint(2, 3)))
        op = rng.choice(["UNION ALL", "EXCEPT ALL", "INTERSECT ALL",
                         "UNION", "EXCEPT", "INTERSECT"])
        k = rng.choice([25, 100])
        sel = ", ".join(cols)
        sql = (f"SELECT * FROM (SELECT {sel} FROM {table} WHERE {p1.sql} "
               f"{op} SELECT {sel} FROM {table} WHERE {p2.sql})"
               + self._topk_tail(cols, k))

        def build(spark, sf_dir, table=table, p1=p1, p2=p2, cols=cols,
                  op=op, k=k):
            t = load_table(spark, sf_dir, table)
            a = t.where(p1.col).select(*cols)
            b = t.where(p2.col).select(*cols)
            if op == "UNION ALL":
                df = a.unionByName(b)
            elif op == "EXCEPT ALL":
                df = a.exceptAll(b)
            elif op == "INTERSECT ALL":
                df = a.intersectAll(b)
            elif op == "UNION":
                df = a.unionByName(b).distinct()
            elif op == "EXCEPT":
                df = a.subtract(b)
            else:
                df = a.intersect(b)
            return self._spark_topk(df, cols, k)

        return GenQuery(seed, "setop", table, sql, build)

    def _gen_scalar_subquery(self, rng: random.Random, seed: int) -> GenQuery:
        """Correlated scalar subquery in the SELECT list vs its manual
        decorrelation. The SQL is the correlated form — DuckDB's
        optimizer decorrelates it internally; the Spark build IS the
        hand-decorrelation (left join against the dim-side grouped
        aggregate). Same AST, two execution strategies: agreement means
        the rewrite every engine performs here is semantics-preserving
        on this data. Only NULL-consistent aggregates are drawn —
        MIN/MAX/SUM yield NULL over an empty correlation group in BOTH
        forms, while COUNT would be 0 (scalar subquery) vs NULL
        (left-join aggregate) and is deliberately excluded."""
        fact, dim, fk, dk = rng.choice(JOINS)
        fpred = self._predicate(rng, fact)
        dpred = self._predicate(rng, dim)
        fm = META[fact]
        dm = META[dim]
        fcols = rng.sample(fm["ints"] + fm["lowcard"],
                           k=min(2, len(fm["ints"] + fm["lowcard"])))
        if fk not in fcols:
            fcols = [fk] + fcols
        fn = rng.choice(["min", "max", "sum"])
        dcol = rng.choice(dm["ints"] if fn == "sum"
                          else dm["ints"] + dm["lowcard"])
        sub_sql = (f"(SELECT CAST({fn.upper()}(d.{dcol}) AS BIGINT) "
                   f"FROM {dim} d WHERE d.{dk} = f.{fk} AND ({dpred.sql}))"
                   if fn == "sum" else
                   f"(SELECT {fn.upper()}(d.{dcol}) FROM {dim} d "
                   f"WHERE d.{dk} = f.{fk} AND ({dpred.sql}))")
        k = rng.choice([25, 100])
        names = fcols + ["sub"]
        # dpred references bare dim columns; qualify them with d. so the
        # correlated subquery resolves them against the inner scan.
        for c in dm["ints"] + dm["lowcard"] + dm["doubles"] + dm["ts"]:
            sub_sql = sub_sql.replace(f"({c} ", f"(d.{c} ").replace(
                f" {c} ", f" d.{c} ")
        sel = ", ".join(f"f.{c}" for c in fcols)
        sql = (f"SELECT {sel}, {sub_sql} AS sub FROM {fact} f "
               f"WHERE {fpred.sql}" + self._topk_tail(names, k))

        def build(spark, sf_dir, fact=fact, dim=dim, fk=fk, dk=dk,
                  fpred=fpred, dpred=dpred, fcols=fcols, fn=fn,
                  dcol=dcol, k=k, names=names):
            agg_col = getattr(F, fn)(dcol)
            if fn == "sum":
                agg_col = agg_col.cast("bigint")
            d = (load_table(spark, sf_dir, dim).where(dpred.col)
                 .groupBy(F.col(dk).alias("_dk"))
                 .agg(agg_col.alias("sub")))
            f_df = load_table(spark, sf_dir, fact).where(fpred.col)
            j = f_df.join(d, f_df[fk] == d["_dk"], "left").select(
                *[f_df[c] for c in fcols], "sub")
            return self._spark_topk(j, names, k)

        return GenQuery(seed, "scalar_subquery", f"{fact}<-{dim}", sql, build)

    def _gen_rollup_agg(self, rng: random.Random, seed: int) -> GenQuery:
        """ROLLUP / CUBE / GROUPING SETS over two keys with GROUPING()
        markers. The differential surface: super-aggregate NULL rows
        must stay distinguishable from NULLIF-injected data-NULL groups
        (GROUPING() = 1 vs 0 on an identical-looking NULL key), and the
        null-skipping aggregates must agree at EVERY grouping level,
        including the grand-total row where an all-null SUM input must
        yield NULL, not 0, in both engines."""
        table = rng.choice(SCAN_TABLES)
        pred = self._predicate(rng, table)
        keys = self._group_keys(rng, table, 2)
        aggs = self._aggs(rng, [table], rng.randint(2, 3))
        mode = rng.choice(["ROLLUP", "CUBE", "SETS"])
        key_sql = ", ".join(e.sql for e in keys)
        agg_sql = ", ".join(e.sql for e in aggs)
        clause = ("GROUPING SETS ((k0, k1), (k0), ())" if mode == "SETS"
                  else f"{mode}(k0, k1)")
        # HAVING COUNT(*) > 0 neutralizes a real engine divergence the
        # sf0.01 sweep caught (seeds 194/313/341/419/421/462): on an
        # EMPTY filtered input the SQL standard's () grouping set emits
        # one grand-total row (COUNT=0, DuckDB does) while Spark's
        # rollup/cube/groupingSets emit zero rows — both APIs, verified
        # on 4.1.2. Every row of a NON-empty input has COUNT(*) >= 1,
        # so the clause only removes the divergent empty-input row.
        sql = (f"SELECT {key_sql}, "
               f"CAST(GROUPING(k0) AS INT) AS g0, "
               f"CAST(GROUPING(k1) AS INT) AS g1, {agg_sql} "
               f"FROM {table} WHERE {pred.sql} GROUP BY {clause} "
               f"HAVING CAST(COUNT(*) AS BIGINT) > 0")

        def build(spark, sf_dir, table=table, pred=pred, keys=keys,
                  aggs=aggs, mode=mode):
            df = (load_table(spark, sf_dir, table).where(pred.col)
                  .withColumn("k0", keys[0].col)
                  .withColumn("k1", keys[1].col))
            if mode == "ROLLUP":
                g = df.rollup("k0", "k1")
            elif mode == "CUBE":
                g = df.cube("k0", "k1")
            else:
                g = df.groupingSets([["k0", "k1"], ["k0"], []], "k0", "k1")
            return g.agg(
                F.grouping("k0").cast("int").alias("g0"),
                F.grouping("k1").cast("int").alias("g1"),
                *[e.col for e in aggs],
            ).where(F.col("agg0") > 0)

        return GenQuery(seed, "rollup_agg", table, sql, build)

    def _gen_window_rank(self, rng: random.Random, seed: int) -> GenQuery:
        """ROW_NUMBER/RANK/DENSE_RANK — or a running SUM over an
        explicit ROWS UNBOUNDED PRECEDING frame — per group with a
        full-tuple (PK tiebroken) ORDER, deterministic in both engines;
        rank variants filter to the top-m rows per partition, the
        running sum keeps rows bounded via the same rn filter (two
        window functions over ONE window definition). The summed column
        is an integer and the result CASTs to BIGINT on both sides
        (DuckDB SUM(BIGINT) is HUGEINT)."""
        from pyspark.sql import Window

        table = rng.choice([t for t in SCAN_TABLES if META[t]["lowcard"]])
        m = META[table]
        part = rng.choice(m["lowcard"])
        order_col = rng.choice(m["ints"] + m["doubles"])
        fn_name = rng.choice(["row_number", "rank", "dense_rank", "runsum",
                              "leadlag", "rangesum"])
        top_m = rng.randint(2, 5)
        order_cols = [order_col] + [c for c in PK[table] if c != order_col]
        sum_col = rng.choice(m["ints"])
        if fn_name in ("runsum", "leadlag", "rangesum") and sum_col not in order_cols:
            # The PK tuple is NOT unique on this synthetic data
            # (lineitem carries duplicate (orderkey, linenumber) pairs),
            # so rows can tie on every order column while differing in
            # the column the window function READS — LEAD/LAG and a
            # ROWS-frame running sum would then leak engine tie order.
            # Appending the read column to the order makes every tied
            # run value-uniform: any permutation of it yields the same
            # offsets and prefix sums, so the output multiset is
            # deterministic without needing a true PK.
            order_cols.append(sum_col)
        out_cols = [part] + order_cols
        order_sql = ", ".join(f"{c} ASC NULLS FIRST" for c in order_cols)
        sel = ", ".join(out_cols)
        over = f"OVER (PARTITION BY {part} ORDER BY {order_sql})"
        if fn_name == "runsum":
            frame_over = over[:-1] + " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            sql = (f"SELECT * EXCLUDE (rn) FROM (SELECT {sel}, "
                   f"CAST(SUM({sum_col}) {frame_over} AS BIGINT) AS rsum, "
                   f"CAST(ROW_NUMBER() {over} AS BIGINT) AS rn "
                   f"FROM {table}) WHERE rn <= {top_m}")
        elif fn_name == "leadlag":
            # LEAD/LAG over the PK-tiebroken total order: offsets are
            # deterministic, partition-edge rows yield NULL in both
            # engines, and the rn filter bounds rows.
            sql = (f"SELECT * EXCLUDE (rn) FROM (SELECT {sel}, "
                   f"CAST(LEAD({sum_col}, 1) {over} AS BIGINT) AS lead1, "
                   f"CAST(LAG({sum_col}, 1) {over} AS BIGINT) AS lag1, "
                   f"CAST(ROW_NUMBER() {over} AS BIGINT) AS rn "
                   f"FROM {table}) WHERE rn <= {top_m}")
        elif fn_name == "rangesum":
            # RANGE frame over the (possibly tied) single order key:
            # peer rows share the frame, so the running sum is
            # value-determined and needs no tiebreak — the frame
            # semantics ROWS can't express. Output rows still bounded
            # via the tiebroken rn.
            range_over = (f"OVER (PARTITION BY {part} ORDER BY {order_col} "
                          f"ASC RANGE BETWEEN UNBOUNDED PRECEDING AND "
                          f"CURRENT ROW)")
            sql = (f"SELECT * EXCLUDE (rn) FROM (SELECT {sel}, "
                   f"CAST(SUM({sum_col}) {range_over} AS BIGINT) AS rsum, "
                   f"CAST(ROW_NUMBER() {over} AS BIGINT) AS rn "
                   f"FROM {table}) WHERE rn <= {top_m}")
        else:
            sql = (f"SELECT * FROM (SELECT {sel}, CAST({fn_name.upper()}() "
                   f"{over} AS BIGINT) AS rn "
                   f"FROM {table}) WHERE rn <= {top_m}")

        def build(spark, sf_dir, table=table, part=part, fn_name=fn_name,
                  sum_col=sum_col, order_cols=order_cols, out_cols=out_cols,
                  top_m=top_m):
            w = Window.partitionBy(part).orderBy(
                *[F.col(c).asc_nulls_first() for c in order_cols])
            d = load_table(spark, sf_dir, table)
            if fn_name == "runsum":
                frame = w.rowsBetween(Window.unboundedPreceding,
                                      Window.currentRow)
                return (d.select(
                            *out_cols,
                            F.sum(sum_col).over(frame).cast("bigint")
                            .alias("rsum"),
                            F.row_number().over(w).cast("bigint").alias("rn"))
                        .where(F.col("rn") <= top_m)
                        .drop("rn"))
            if fn_name == "leadlag":
                return (d.select(
                            *out_cols,
                            F.lead(sum_col, 1).over(w).cast("bigint")
                            .alias("lead1"),
                            F.lag(sum_col, 1).over(w).cast("bigint")
                            .alias("lag1"),
                            F.row_number().over(w).cast("bigint").alias("rn"))
                        .where(F.col("rn") <= top_m)
                        .drop("rn"))
            if fn_name == "rangesum":
                rw = (Window.partitionBy(part)
                      .orderBy(F.col(order_cols[0]).asc())
                      .rangeBetween(Window.unboundedPreceding,
                                    Window.currentRow))
                return (d.select(
                            *out_cols,
                            F.sum(sum_col).over(rw).cast("bigint")
                            .alias("rsum"),
                            F.row_number().over(w).cast("bigint").alias("rn"))
                        .where(F.col("rn") <= top_m)
                        .drop("rn"))
            fn = getattr(F, fn_name)
            return (d.select(*out_cols,
                             fn().over(w).cast("bigint").alias("rn"))
                    .where(F.col("rn") <= top_m))

        return GenQuery(seed, "window_rank", table, sql, build)

    def _gen_text_token_agg(self, rng: random.Random, seed: int) -> GenQuery:
        """Lateral tokenization of documents.text (Spark explode(split)
        vs DuckDB unnest(string_split)) followed by a token-keyed
        aggregation — the explode+agg surface the TPC-H-only grammar
        never reached. The corpus text is single-space separated with
        no leading/trailing/double spaces at every shipped SF, so the
        regex-split (Spark) and literal-split (DuckDB) token streams
        are identical; aggregates draw from the per-document columns
        each exploded row carries."""
        pred = self._predicate(rng, "documents")
        keymode = rng.choice(["token", "prefix", "length"])
        aggs = self._aggs(rng, ["documents"], rng.randint(2, 3))
        having = rng.random() < 0.4
        if keymode == "token":
            key_sql, key_col = "token AS k0", F.col("token").alias("k0")
        elif keymode == "prefix":
            key_sql = "SUBSTR(token, 1, 2) AS k0"
            key_col = F.substring("token", 1, 2).alias("k0")
        else:
            key_sql = "CAST(LENGTH(token) AS BIGINT) AS k0"
            key_col = F.length("token").cast("bigint").alias("k0")
        agg_sql = ", ".join(e.sql for e in aggs)
        sql = (f"SELECT {key_sql}, {agg_sql} FROM "
               f"(SELECT unnest(string_split(text, ' ')) AS token, * "
               f"FROM documents WHERE {pred.sql}) GROUP BY k0")
        if having:
            sql += " HAVING CAST(COUNT(*) AS BIGINT) > 2"

        def build(spark, sf_dir, pred=pred, key_col=key_col, aggs=aggs,
                  having=having):
            df = (load_table(spark, sf_dir, "documents")
                  .where(pred.col)
                  .withColumn("token", F.explode(F.split(F.col("text"), " ")))
                  .groupBy(key_col).agg(*[e.col for e in aggs]))
            if having:
                df = df.where(F.col("agg0") > 2)
            return df

        return GenQuery(seed, "text_token_agg", "documents", sql, build)

    #: phrase vocabulary: frequent corpus words (TESTDATA.md's generator
    #: vocab), so random phrases actually match documents.
    _PHRASE_VOCAB = ["table", "scan", "join", "data", "merge", "batch",
                     "window", "stream", "key", "row", "filter", "sort"]

    def _gen_text_phrase(self, rng: random.Random, seed: int) -> GenQuery:
        """Positional phrase adjacency over documents (the r9c
        q_text_phrase_search surface, randomized): a 2- or 3-term
        phrase of corpus-vocab words, counted by posting-list
        intersection on the Spark side (operators.text.phrase_match —
        the SAME production helper, so the fuzzer exercises the real
        code path) vs a DuckDB positional list scan. Counting is
        positional, so self-overlapping repeated-word phrases (the
        rng MAY draw duplicates) must agree too."""
        from copy_databasetables_spark.operators.text import phrase_match

        k = rng.choice([2, 2, 3])  # mostly bigrams, some trigrams
        words = [rng.choice(self._PHRASE_VOCAB) for _ in range(k)]
        conds = " AND ".join(
            f"toks[p1 + {i}] = '{w}'" for i, w in enumerate(words)
        )
        sql = (
            "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks "
            "FROM documents), "
            f"p AS (SELECT doc_id, UNNEST(range(1, len(toks) - {k - 2})) "
            "AS p1, toks FROM t) "
            "SELECT doc_id, COUNT(*) AS n_matches, "
            "CAST(MIN(p1) - 1 AS BIGINT) AS first_pos "
            f"FROM p WHERE {conds} GROUP BY doc_id"
        )

        def build(spark, sf_dir, words=words):
            docs = load_table(spark, sf_dir, "documents").select(
                "doc_id", "text"
            )
            return phrase_match(docs, words)

        return GenQuery(seed, "text_phrase", "documents", sql, build)

    def _gen_array_project_topk(self, rng: random.Random, seed: int) -> GenQuery:
        """Per-row higher-order array projections over a filtered
        embeddings scan: transform+fold, element indexing, lambda
        filter, extrema (see _array_expr) — deterministic top-k over
        the id plus every derived scalar."""
        pred = self._predicate(rng, "embeddings")
        nexpr = rng.randint(2, 3)
        exprs = [self._array_expr(rng, f"a{i}") for i in range(nexpr)]
        names = ["vec_id", "label"] + [f"a{i}" for i in range(nexpr)]
        k = rng.choice([25, 100])
        sql = (f"SELECT vec_id, label, {', '.join(e.sql for e in exprs)} "
               f"FROM embeddings WHERE {pred.sql}" + self._topk_tail(names, k))

        def build(spark, sf_dir, pred=pred, exprs=exprs, names=names, k=k):
            df = (load_table(spark, sf_dir, "embeddings").where(pred.col)
                  .select("vec_id", "label", *[e.col for e in exprs]))
            return self._spark_topk(df, names, k)

        return GenQuery(seed, "array_project_topk", "embeddings", sql, build)

    def _gen_array_group_agg(self, rng: random.Random, seed: int) -> GenQuery:
        """Array-derived scalars flowing INTO a grouped aggregation:
        per-row higher-order results (already exact scaled ints) are
        re-aggregated per label/mod key — bigint-associative at every
        step, so shuffle and accumulation order cannot skew the hash."""
        pred = self._predicate(rng, "embeddings")
        if rng.random() < 0.5:
            key_sql, key_col = "label AS k0", F.col("label").alias("k0")
        else:
            k = rng.randint(2, 9)
            key_sql = f"vec_id % {k} AS k0"
            key_col = (F.col("vec_id") % k).alias("k0")
        inner = self._array_expr(rng, "v")
        fn = rng.choice(["SUM", "MIN", "MAX"])
        agg_sql = (f"CAST(COUNT(*) AS BIGINT) AS agg0, "
                   f"CAST({fn}(v) AS BIGINT) AS agg1")
        sql = (f"SELECT k0, {agg_sql} FROM "
               f"(SELECT {key_sql}, {inner.sql} FROM embeddings "
               f"WHERE {pred.sql}) GROUP BY k0")

        def build(spark, sf_dir, pred=pred, key_col=key_col, inner=inner,
                  fn=fn):
            return (load_table(spark, sf_dir, "embeddings")
                    .where(pred.col)
                    .select(key_col, inner.col)
                    .groupBy("k0")
                    .agg(F.count(F.lit(1)).cast("bigint").alias("agg0"),
                         getattr(F, fn.lower())("v").cast("bigint")
                         .alias("agg1")))

        return GenQuery(seed, "array_group_agg", "embeddings", sql, build)

    def _join_base(self, rng: random.Random):
        fact, dim, fk, dk = rng.choice(JOINS)
        fpred = self._predicate(rng, fact)
        dpred = self._predicate(rng, dim)
        join_sql = (f"(SELECT * FROM {fact} WHERE {fpred.sql}) f "
                    f"JOIN (SELECT * FROM {dim} WHERE {dpred.sql}) d "
                    f"ON f.{fk} = d.{dk}")
        return fact, dim, fk, dk, fpred, dpred, join_sql

    def _gen_join_agg(self, rng: random.Random, seed: int) -> GenQuery:
        fact, dim, fk, dk, fpred, dpred, join_sql = self._join_base(rng)
        keys = self._group_keys(rng, dim, 1)
        aggs = self._aggs(rng, [fact], rng.randint(2, 3))
        sql = (f"SELECT {keys[0].sql}, {', '.join(e.sql for e in aggs)} "
               f"FROM {join_sql} GROUP BY k0")

        def build(spark, sf_dir, fact=fact, dim=dim, fk=fk, dk=dk,
                  fpred=fpred, dpred=dpred, keys=keys, aggs=aggs):
            f_df = load_table(spark, sf_dir, fact).where(fpred.col)
            d_df = load_table(spark, sf_dir, dim).where(dpred.col)
            return (f_df.join(d_df, f_df[fk] == d_df[dk], "inner")
                    .groupBy(keys[0].col).agg(*[e.col for e in aggs]))

        return GenQuery(seed, "join_agg", f"{fact}*{dim}", sql, build)

    def _gen_subquery_filter(self, rng: random.Random, seed: int) -> GenQuery:
        """IN / EXISTS / NOT EXISTS membership against a filtered dim —
        the subquery-decorrelation surface (SURVEY.md §4.2): both
        engines must rewrite the correlated EXISTS to a semi/anti join
        with identical row semantics. NOT IN is deliberately excluded:
        its three-valued NULL semantics on an injected-NULL dim column
        is a known cross-engine minefield with no analytics payoff —
        NOT EXISTS expresses the intent null-safely in both engines."""
        fact, dim, fk, dk = rng.choice(JOINS)
        fpred = self._predicate(rng, fact)
        dpred = self._predicate(rng, dim)
        mode = rng.choice(["in", "exists", "not_exists"])
        fm = META[fact]
        pool = fm["ints"] + fm["doubles"] + fm["lowcard"]
        cols = rng.sample(pool, k=min(len(pool), rng.randint(2, 3)))
        k = rng.choice([10, 25, 100])
        if mode == "in":
            sub = f"{fk} IN (SELECT {dk} FROM {dim} WHERE {dpred.sql})"
        else:
            kw = "EXISTS" if mode == "exists" else "NOT EXISTS"
            sub = (f"{kw} (SELECT 1 FROM {dim} d "
                   f"WHERE d.{dk} = {fact}.{fk} AND ({dpred.sql}))")
        sql = (f"SELECT {', '.join(cols)} FROM {fact} "
               f"WHERE ({fpred.sql}) AND {sub}" + self._topk_tail(cols, k))

        def build(spark, sf_dir, fact=fact, dim=dim, fk=fk, dk=dk,
                  fpred=fpred, dpred=dpred, mode=mode, cols=cols, k=k):
            f_df = load_table(spark, sf_dir, fact).where(fpred.col)
            d_df = load_table(spark, sf_dir, dim).where(dpred.col)
            how = "left_anti" if mode == "not_exists" else "left_semi"
            j = f_df.join(d_df, f_df[fk] == d_df[dk], how).select(*cols)
            return self._spark_topk(j, cols, k)

        return GenQuery(seed, "subquery_filter", f"{fact}*{dim}", sql, build)

    def _gen_outer_join_agg(self, rng: random.Random, seed: int) -> GenQuery:
        """LEFT / FULL / INNER join with optionally NULL-INJECTED keys,
        grouped on a dim-side key. Probes the join-key null semantics
        the null-free testdata never exercises: plain ``=`` drops
        NULL-keyed rows on both engines, ``IS NOT DISTINCT FROM`` /
        ``eqNullSafe`` matches them; outer rows project NULL dim
        columns that then flow into a NULL group and null-skipping
        aggregates. The NULLIF pivot value is a sampled dim-key
        quantile, so at most a handful of keys null out — the null-safe
        cross product over them stays trivially bounded."""
        fact, dim, fk, dk = rng.choice(JOINS)
        fpred = self._predicate(rng, fact)
        dpred = self._predicate(rng, dim)
        how = rng.choice(["left", "full", "inner"])
        keymode = rng.choice(["plain", "null_plain", "null_safe"])
        if keymode == "plain":
            fkey_sql, dkey_sql, v = f"f.{fk}", f"d.{dk}", None
        else:
            v = int(self._quantile(dim, dk, rng.choice(_QUANTILES)))
            fkey_sql = f"NULLIF(f.{fk}, {v})"
            dkey_sql = f"NULLIF(d.{dk}, {v})"
        op_sql = "IS NOT DISTINCT FROM" if keymode == "null_safe" else "="
        join_kw = {"left": "LEFT JOIN", "full": "FULL JOIN",
                   "inner": "JOIN"}[how]
        keys = self._group_keys(rng, dim, 1)
        aggs = self._aggs(rng, [fact], rng.randint(2, 3))
        sql = (f"SELECT {keys[0].sql}, {', '.join(e.sql for e in aggs)} "
               f"FROM (SELECT * FROM {fact} WHERE {fpred.sql}) f "
               f"{join_kw} (SELECT * FROM {dim} WHERE {dpred.sql}) d "
               f"ON {fkey_sql} {op_sql} {dkey_sql} GROUP BY k0")

        def build(spark, sf_dir, fact=fact, dim=dim, fk=fk, dk=dk, v=v,
                  fpred=fpred, dpred=dpred, how=how, keymode=keymode,
                  keys=keys, aggs=aggs):
            f_df = load_table(spark, sf_dir, fact).where(fpred.col)
            d_df = load_table(spark, sf_dir, dim).where(dpred.col)
            fkey, dkey = f_df[fk], d_df[dk]
            if keymode != "plain":
                fkey = F.nullif(fkey, F.lit(v))
                dkey = F.nullif(dkey, F.lit(v))
            cond = fkey.eqNullSafe(dkey) if keymode == "null_safe" else (
                fkey == dkey)
            return (f_df.join(d_df, cond, how)
                    .groupBy(keys[0].col).agg(*[e.col for e in aggs]))

        return GenQuery(seed, "outer_join_agg", f"{fact}*{dim}", sql, build)

    def _gen_join_topk(self, rng: random.Random, seed: int) -> GenQuery:
        fact, dim, fk, dk, fpred, dpred, join_sql = self._join_base(rng)
        fm, dm = META[fact], META[dim]
        fpool = fm["ints"] + fm["doubles"]
        fcols = rng.sample(fpool, k=min(len(fpool), rng.randint(2, 3)))
        dpool = [c for c in dm["ints"] + dm["lowcard"] if c != dk]
        dcols = rng.sample(dpool, k=min(len(dpool), rng.randint(1, 2)))
        cols = fcols + dcols
        k = rng.choice([10, 50])
        sel = ", ".join(f"f.{c}" for c in fcols) + ", " + ", ".join(
            f"d.{c}" for c in dcols)
        sql = f"SELECT {sel} FROM {join_sql}" + self._topk_tail(cols, k)

        def build(spark, sf_dir, fact=fact, dim=dim, fk=fk, dk=dk,
                  fpred=fpred, dpred=dpred, fcols=fcols, dcols=dcols,
                  cols=cols, k=k):
            f_df = load_table(spark, sf_dir, fact).where(fpred.col)
            d_df = load_table(spark, sf_dir, dim).where(dpred.col)
            j = f_df.join(d_df, f_df[fk] == d_df[dk], "inner").select(
                *[f_df[c] for c in fcols], *[d_df[c] for c in dcols])
            return self._spark_topk(j, cols, k)

        return GenQuery(seed, "join_topk", f"{fact}*{dim}", sql, build)


# ------------------------------------------------------------------ driver


def run_seed(gen: Gen, q: GenQuery, spark, con, show: bool = False) -> list[str]:
    """Run one generated query on both engines; return problem list."""
    import check

    sdf = q.build(spark, gen.sf_dir).toPandas()
    ddf = con.execute(q.sql).df()
    problems = check.compare(sdf, ddf)
    if show or problems:
        print(f"  shape={q.shape} table={q.table} rows={len(sdf)}")
        print(f"  sql: {q.sql}")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="sf0.001")
    ap.add_argument("--seeds", type=int, default=50,
                    help="run seeds 0..N-1 (default 50)")
    ap.add_argument("--seed-list", type=int, nargs="*", default=None)
    ap.add_argument("--show", action="store_true")
    args = ap.parse_args()

    import check
    from copy_databasetables_spark import get_spark

    sf_dir = f"/root/testdata/{args.sf}"
    con = check.duck_connect(sf_dir)
    spark = get_spark("fuzz")
    gen = Gen(con, sf_dir)

    seeds = args.seed_list if args.seed_list is not None else range(args.seeds)
    passed, failed = 0, []
    for seed in seeds:
        q = None
        try:
            q = gen.generate(seed)
            problems = run_seed(gen, q, spark, con, show=args.show)
        except Exception as e:  # generator or engine raise = a failure too
            problems = [f"raised: {e!r}"]
            if q is not None:
                print(f"  sql: {q.sql}")
        if problems:
            failed.append(seed)
            print(f"FAIL seed={seed}")
            for p in problems:
                print(f"  {p}")
        else:
            passed += 1
    print(f"\n{passed} passed, {len(failed)} failed"
          + (f" (failed seeds: {failed})" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
