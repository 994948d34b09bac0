"""Regenerate expected.json: the digest of every benchmarked query's
DuckDB oracle result on the generated inputs.

    python3 perfbench/expected.py

The oracles are too slow to run on every benchmark run, so their
digests are stored; the benchmark compares each Spark result's
canonical row multiset (tools/check.py's canon) against them. A query
without an oracle stores only its row count, taken from
``workloads.ROWS_ONLY_SQL``.
"""

from __future__ import annotations

import json
import os

import run
import workloads as W


def main() -> None:
    check = run.load_check_module()
    from copy_databasetables_spark import operators

    data = run.ensure_data()
    con = check.duck_connect(data)
    oracles = operators.all_oracles()
    out = {}
    for name in sorted(set(W.RELATIONAL + W.LLM)):
        if name in oracles:
            out[name] = W.digest(con.execute(oracles[name]).df(), check.normalize)
        else:
            out[name] = {"rows": con.execute(W.ROWS_ONLY_SQL[name]).fetchone()[0]}
    path = os.path.join(run.HERE, "expected.json")
    with open(path, "w") as f:
        json.dump({"data_version": run.datagen.VERSION, "queries": out}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(out)} digests to {path}")


if __name__ == "__main__":
    main()
