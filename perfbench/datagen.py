"""Deterministic inputs for the benchmark.

The ten tables have the schemas and value domains of the engine's
fixtures (FIXTURES.md): a TPC-H-style star schema, an ``events``
stream, and the ``documents``/``embeddings`` corpus of the LLM-data
operators. They are generated from a fixed data seed, so the expected
query digests in ``expected.json`` stay valid for every run; the
benchmark's ``--seed`` drives only the per-run change log (below) and
the per-pass operation order.

Money, quantity and rate columns hold at most two decimals (each value
is the double nearest ``k / 100``), which the engine's exact-sum
helpers and the DuckDB oracles both assume. One parquet file with one
row group per table, as the fixtures ship.

    python3 perfbench/datagen.py DIR     # writes DIR/<table>.parquet
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Scale factor of the star schema: the engine's correctness-gate scale
#: (60,000 lineitem rows). Documents and embeddings keep their
#: fixed-size corpus of 500 rows, as the fixtures do at this scale.
SF = 0.01
DATA_SEED = 42
#: Bumped whenever the generator's output changes; names the data
#: directory, so a stale copy is never reused.
VERSION = 1

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    k = rng.integers(round(lo * 100), round(hi * 100) + 1, n)
    return k / 100.0


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def tables(sf: float = SF, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """All ten tables, keyed by name."""
    rng = np.random.default_rng(seed)
    n_supp, n_cust, n_part = int(10_000 * sf), int(150_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs, n_vecs = int(15_000 * sf), 500, 500
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    adj = np.array("blue cold hot large new old red small".split())
    noun = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    ptypes = np.array("ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split())
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": (9000 + pk % 1000) / 10.0,
    })
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_EPOCH_1995 + (1 + rng.integers(0, 2498, n_li)) * _DAY_US),
    })
    # events: a Poisson stream over 30 days in January 2024, ordered by id
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + _EPOCH_2024
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array("click error purchase signup view".split())[
            rng.integers(0, 5, n_ev)
        ],
        "value": np.round(rng.exponential(50.0, n_ev) * 100) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # documents: random token streams; ~5% are near-duplicates (an
    # earlier document minus its last token), the case the dedup
    # operators exist for
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()[:-1]
        else:
            words = list(np.array(_VOCAB)[rng.integers(0, len(_VOCAB), int(rng.integers(10, 100)))])
        texts.append(" ".join(words))
    langs = np.array(["de", "en", "en", "en", "es", "fr", "zh"])
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    # embeddings: unit-norm isotropic 64-dim vectors, labels 0..9
    e = rng.standard_normal((n_vecs, 64))
    e = (e / np.linalg.norm(e, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(e), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })
    return out


def write(dest: str) -> None:
    """Write every table to ``dest/<name>.parquet`` (one row group)."""
    os.makedirs(dest, exist_ok=True)
    for name, t in tables().items():
        pq.write_table(t, os.path.join(dest, f"{name}.parquet"), row_group_size=t.num_rows or 1)


def change_log(orders: pa.Table, seed: int, share: float = 0.05) -> pa.Table:
    """A seeded I/U/D change log over ``share`` of the order keys: each
    chosen key gets one to three changes with increasing ``seq``; an
    update rewrites status and price, a delete removes the key, and a
    delete may be followed by a re-insert."""
    rng = np.random.default_rng(seed)
    n = orders.num_rows
    keys = np.sort(rng.choice(n, int(n * share), replace=False))
    base = orders.take(pa.array(keys)).to_pydict()
    rows: dict[str, list] = {c: [] for c in orders.column_names + ["op", "seq"]}
    seq = 0
    for i in range(len(keys)):
        alive = True
        for _ in range(int(rng.integers(1, 4))):
            op = ("U" if rng.random() < 0.6 else "D") if alive else "I"
            alive = op != "D"
            seq += 1
            for c in orders.column_names:
                rows[c].append(base[c][i])
            if op != "D":
                rows["o_orderstatus"][-1] = "FOP"[int(rng.integers(0, 3))]
                rows["o_totalprice"][-1] = int(rng.integers(100_000, 50_000_001)) / 100.0
            rows["op"].append(op)
            rows["seq"].append(seq)
    return pa.table(rows, schema=orders.schema.append(pa.field("op", pa.string()))
                    .append(pa.field("seq", pa.int64())))


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: datagen.py DIR")
    write(sys.argv[1])
