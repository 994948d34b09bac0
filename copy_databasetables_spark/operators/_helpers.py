"""Shared helpers enforcing the oracle-determinism conventions.

The #1 risk to the correctness gate is cross-system float/timestamp
drift (SURVEY.md §7.3). These helpers pin the conventions once:

- ``dsum`` — exact money/quantity sums: accumulate in DECIMAL(38,6)
  (associative, partition-order independent — a double sum is NOT), then
  cast the final value to double. The DuckDB oracle mirrors with
  ``CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE)``.
- ``davg`` — exact-numerator average: dsum / count, a single deterministic
  double division on both sides.
- ``us`` — project any timestamp to epoch **microseconds** (BIGINT) at
  output boundaries; DuckDB mirrors with ``epoch_us(...)``. Interior
  computation stays on real timestamp types so Catalyst can still prune
  and compare natively.
- ``ds`` — project a date/timestamp to its ``yyyy-MM-dd`` string.
- ``_H`` / ``_D_H`` — the md5-derived 60-bit hash, identical in Spark
  and DuckDB; ``token_windows`` builds every n-token window of a
  document with its token array split once per row, and
  ``span_hashes`` hashes the ``_SPAN_K``-token windows (text and dedup).
"""

from __future__ import annotations

from pyspark.sql import Column, Observation
from pyspark.sql import functions as F

DEC = "decimal(38,6)"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# --- intra-query materialization with a bounded block lifecycle -------
#
# Operators materialize frames that feed multiple consumers with
# ``localCheckpoint`` (recomputed from parquet on every invocation —
# never a cross-run cache). The blocks a checkpoint leaves behind are
# MEMORY_AND_DISK and, left alone, are freed only when driver GC +
# ContextCleaner get to them — under a 76-query × best-of-4 bench that
# backlog competes with the harness's cached input tables for the 8 GB
# driver-heap storage pool and spams ``Failed to update accumulator``
# cleaner races. ``free_ckpts`` bounds the lifecycle: the HARNESS
# (bench.py after every timed run; tools/check.py after every oracle
# comparison) sweeps the context's persistent-RDD
# registry and unpersists every locally-checkpointed RDD. Cached input
# tables are untouched (they are persisted, not checkpoint-marked), so
# the sweep frees exactly the per-invocation materializations.
#
# Freeing is safe ONLY after the action that consumed the returned
# frame (an unpersisted local checkpoint cannot recompute — its lineage
# is truncated), which is where every harness call sits. Do NOT call
# this between building a query DataFrame and executing it.
#
# ``ckpt`` additionally PINS the pre-checkpoint Dataset python-side
# until the next ``free_ckpts``: the pre-checkpoint plan is otherwise a
# Python temporary, py4j releases its JVM Dataset at once, and a JVM GC
# landing while the (lazy) checkpoint is still materializing collects
# the plan's weakly-registered metric accumulators mid-stage — every
# task completion of that stage then logs
# ``Failed to update accumulator N`` (reproduced deterministically with
# a System.gc() loop and eliminated by the pin).

_PLAN_PINS: list = []


def ckpt(df, eager: bool = False):
    """``df.localCheckpoint(eager)`` with the pre-checkpoint plan
    pinned until the harness's next ``free_ckpts`` (see above)."""
    _PLAN_PINS.append(df)
    return df.localCheckpoint(eager=eager)


def ckpt_observed(df, metric: Column):
    """``ckpt(df, eager=True)`` and the value of the aggregate
    ``metric`` over ``df``'s rows, observed on the checkpoint job
    itself instead of a second job over the checkpoint."""
    seen = Observation()
    # observe last, so the checkpoint job's result stage reports it
    # (above any exchange in ``df``): a result task's metrics count
    # once even when the task is retried
    out = ckpt(df.observe(seen, metric.alias("v")), eager=True)
    return out, seen.get["v"]


def free_ckpts(spark) -> int:
    """Unpersist every locally-checkpointed RDD in the context.
    Harness-only: call strictly AFTER the action that consumed the
    operator's returned frame. Returns the number of RDDs freed."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    n = 0
    for jid in list(jmap.keySet().toArray()):
        jrdd = jmap.get(jid)
        try:
            r = jrdd.rdd()
            if r.isLocallyCheckpointed():
                r.unpersist(False)
                n += 1
        except Exception:
            pass  # racing ContextCleaner already freed it: nothing to do
    _PLAN_PINS.clear()
    return n


#: Fixed-point scale for exact sums: every money/quantity expression in
#: the testdata has ≤6 true decimals, so round(x·10⁶) is an exact int64.
_SCALE = 1_000_000


def _scaled(col: Column) -> Column:
    """round(x·10⁶) as FLOOR(x·10⁶ + 0.5) — numerically identical here,
    ~2× faster end-to-end on the flagship.

    Why not ``F.round``: Spark's ROUND on a double routes every row
    through BigDecimal (measured +0.2 s on the sf0.1 flagship — the bulk
    of the "exactness tax" in BASELINE.md). FLOOR is a single
    ``Math.floor`` in codegen. Equivalence: for ≤6-true-decimal data,
    x·10⁶ lands within ~1e-6 of an integer k, so k ± 1e-6 + 0.5 can
    never straddle the next integer and FLOOR(x·10⁶+0.5) = k =
    HALF_UP-round for positive AND negative values (acctbal can be
    negative — a plain BIGINT cast would truncate toward zero and break
    there). The 0.5-boundary case where FLOOR and HALF_UP could diverge
    requires a true 7th decimal of exactly 5, which ≤6-decimal data
    cannot produce."""
    return F.floor(col * _SCALE + F.lit(0.5)).cast("bigint")


def dsum(c: Column | str, alias: str) -> Column:
    """Partition-order-independent sum of a fixed-decimal double column.

    Implementation: scaled-integer accumulation — round(x·10⁶) is exact
    for ≤6-decimal values, int64 sums are associative and codegen-fast
    (a DECIMAL(38,6) accumulator gives the same value ~14× slower via
    BigDecimal). The final BIGINT→DOUBLE/10⁶ is correctly rounded while
    the scaled sum stays below 2⁵³ (true for every checked scale factor;
    beyond that, fall back to DECIMAL — SURVEY.md §7.3#1). The DuckDB
    oracle keeps the decimal form: identical values, different engine."""
    return (F.sum(_scaled(_col(c))).cast("double") / _SCALE).alias(alias)


def davg(c: Column | str, alias: str) -> Column:
    """avg(x) with an exact numerator: identical on both sides."""
    col = _col(c)
    return ((F.sum(_scaled(col)).cast("double") / _SCALE) / F.count(col)).alias(alias)


def us(c: Column | str, alias: str | None = None) -> Column:
    """timestamp[_ntz] -> epoch microseconds BIGINT (session TZ is UTC)."""
    out = F.unix_micros(_col(c).cast("timestamp"))
    return out.alias(alias) if alias else out


def ds(c: Column | str, alias: str | None = None) -> Column:
    """timestamp[_ntz]/date -> 'yyyy-MM-dd' string."""
    out = F.date_format(_col(c), "yyyy-MM-dd")
    return out.alias(alias) if alias else out


def rz(c: Column | str, scale: int) -> Column:
    """round(x, scale) with the IEEE signed zero normalized away.

    Spark's F.round on a double routes through Java BigDecimal, which
    has NO signed zero — round(-1e-9, 6) comes back +0.0. DuckDB's
    round() is IEEE and PRESERVES the sign: the same cell is -0.0, and
    the driver's value hasher distinguishes the two (a q_emb_covariance
    hash miss). `+ 0.0` is the standard IEEE normalization
    (-0.0 + 0.0 = +0.0; every other value unchanged), so
    applying it on BOTH engines pins the cross-system representation:
    use this for every rounded FINAL output whose value can be a tiny
    negative (covariances, correlations, cosines, idf/bm25 scores,
    z-scores), and mirror the oracle side with SQL_RZ / `+ 0.0`."""
    return F.round(_col(c), scale) + F.lit(0.0)


#: DuckDB-side twin of ``rz`` for oracle SQL: DuckDB round() keeps IEEE
#: -0.0; + 0.0 drops it.
SQL_RZ = "(round({x}, {n}) + 0.0)"


# --- token windows and the portable hash (text and dedup) -------------

#: Spark SQL: portable 60-bit hash of a string expression {x} — the first
#: 15 hex digits of its md5 as a bigint.
_H = "cast(conv(substring(md5({x}), 1, 15), 16, 10) as bigint)"
#: DuckDB: the same 60-bit hash.
_D_H = "CAST(concat('0x', substring(md5({x}), 1, 15)) AS BIGINT)"

#: duplicated-span width in tokens, shared by span detection
#: (q_dedup_substring*) and removal (q_text_strip_spans*). Operators
#: read it at call time; oracles bake it in at import. Production
#: exact-substring dedup (Lee et al. 2022) uses ~50; 8 here so the small
#: synthetic docs produce cross-doc spans.
_SPAN_K = 8


def token_windows(n: int, fn: str = "{x}", tokens: str = "split(text, ' ')") -> str:
    """Spark SQL: the array of ``fn`` over every ``n``-token window of
    the array ``tokens``, in position order; empty when it holds fewer
    than ``n`` tokens. ``{x}`` in ``fn`` stands for the window's tokens
    joined by single spaces.

    The token array is bound once per row as the lambda variable ``ts``
    (``transform(array(tokens), ts -> ...)``): a ``split`` written
    inside the per-window lambda re-splits the whole text once per
    window, O(len²) per document."""
    w = ", ' ', ".join(["t"] + [f"ts[i + {j}]" for j in range(1, n)])
    return (
        f"element_at(transform(array({tokens}), ts -> "
        f"transform(slice(ts, 1, greatest(size(ts) - {n - 1}, 0)), "
        f"(t, i) -> {fn.format(x=f'concat({w})')})), 1)"
    )


def span_hashes() -> str:
    """Spark SQL: the 60-bit hash of every ``_SPAN_K``-token window of
    ``text``, in position order (empty for shorter documents)."""
    return token_windows(_SPAN_K, _H)


def _dot(a: str, b: str) -> Column:
    """Dot product of two double-array columns: the zip_with products
    folded left to right from 0.0, in whole-stage codegen."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _cosine_pre(a: str, b: str, na: str, nb: str) -> Column:
    """Cosine with precomputed per-vector norms: ONE array aggregate per
    pair (the dot product). sqrt(sa)·sqrt(sb) vs sqrt(sa·sb) differ only
    in the last ulp — nine orders below both the ~1e-3 cosine gaps that
    decide ranks/thresholds on this data and the 4dp output rounding."""
    return _dot(a, b) / (F.col(na) * F.col(nb))


# --- SQL-expression bloom filter -------------------------------------
#
# Spark exposes no SQL bloom_filter_agg, and df.stat.bloomFilter detours
# through the driver and a Python UDF — so the engine builds blooms as
# plain JVM expressions: the bit array is bits/64 int64 words assembled
# by a bit_or aggregate and shipped as ONE broadcast row; membership is
# a forall over k (word, bit) probes. Used by q_decontaminate_bloom
# (benchmark-gram filter) and q_join_bloom_prune (shuffle-join runtime
# filter). Both sides — build and probe — must hash identically, which
# is why the k-position fragment is generated in exactly one place.


def bloom_positions_sql(g: str, bits: int, k: int) -> str:
    """The k bit positions of expression ``g``: xxhash64(g, i) mod bits."""
    return (
        f"transform(sequence(0, {k - 1}), "
        f"i -> pmod(xxhash64({g}, cast(i as int)), {bits}L))"
    )


def bloom_build(df, col: str, bits: int, k: int):
    """ONE-row DataFrame [bloom: array<long>] over df[``col``]'s values.

    Explode each value's k positions, bit_or the masks per 64-bit word,
    left-join the per-word table against range(words) so every word
    exists (absent words are 0), then assemble the dense array with
    array_sort(collect_list(struct)) — NOT a map: Spark's map access is
    a linear key scan, so a map-based densify costs O(words·set_words)
    (measured 21 s at 2^20 bits); the join+sort assembly is
    O(words·log words) and runs in well under a second. Broadcast the
    result; at 100 TB the array is sized by the FP budget (bits), never
    by the corpus."""
    words = bits // 64
    pos = df.select(F.explode(F.expr(bloom_positions_sql(col, bits, k))).alias("p"))
    w = (
        pos.select(
            (F.col("p") / 64).cast("int").alias("wi"),
            F.expr("shiftleft(1L, cast(p % 64 as int))").alias("mask"),
        )
        .groupBy("wi")
        .agg(F.expr("bit_or(mask)").alias("w"))
    )
    dense = (
        df.sparkSession.range(words)
        .select(F.col("id").cast("int").alias("wi"))
        .join(w, "wi", "left")
        .select("wi", F.coalesce("w", F.lit(0)).cast("long").alias("w"))
    )
    return dense.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("wi", "w"))), lambda s: s.w
        ).alias("bloom")
    )


def bloom_might_contain_sql(g: str, bits: int, k: int) -> str:
    """Membership predicate against a ``bloom`` column in scope
    (element_at is 1-based; positions are 0-based)."""
    return (
        f"forall({bloom_positions_sql(g, bits, k)}, "
        f"p -> (shiftright(element_at(bloom, cast(p div 64 as int) + 1), "
        f"cast(p % 64 as int)) & 1L) = 1L)"
    )
