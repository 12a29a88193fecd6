"""Compare the generated dataset with a reference dataset of the same scale.

    python3 perfbench/compare_data.py REF_DIR GEN_DIR

Prints, for both directories, the figures that set the benchmarked plans'
shape: table row counts, join fan-outs (line items per order, orders per
customer), the share of duplicate (l_orderkey, l_linenumber) pairs, and the
result row count of every benchmarked query's DuckDB oracle. Rows whose
figures differ by more than 5% are marked. README.md ("Data") records a run
against the project's sf0.1 testdata.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from workloads import HEADLINE_QUERIES, TPCH_SF1_QUERIES  # noqa: E402

TABLES = ("region nation customer supplier part orders lineitem events documents "
          "embeddings").split()
FANOUT = {
    "lines per order": "SELECT o_orderkey, count(l_orderkey) AS n FROM orders "
                       "LEFT JOIN lineitem ON l_orderkey = o_orderkey GROUP BY 1",
    "orders per customer": "SELECT c_custkey, count(o_orderkey) AS n FROM customer "
                           "LEFT JOIN orders ON o_custkey = c_custkey GROUP BY 1",
}


def figures(data_dir: str) -> dict[str, float]:
    import qurious_spark.queries as q
    from tools.check_correctness import duckdb_conn

    q.load_all()
    con = duckdb_conn(data_dir)
    out: dict[str, float] = {}
    for t in TABLES:
        out[f"rows: {t}"] = con.sql(f"SELECT count(*) FROM {t}").fetchone()[0]
    for name, sql in FANOUT.items():
        mean, p50, p99, mx, zero = con.sql(
            f"SELECT avg(n), median(n), quantile_disc(n, 0.99), max(n), "
            f"count(*) FILTER (WHERE n = 0) FROM ({sql})").fetchone()
        out.update({f"{name}: mean": mean, f"{name}: median": p50,
                    f"{name}: p99": p99, f"{name}: max": mx, f"{name}: zero": zero})
    out["lineitem: duplicate (orderkey, linenumber) share"] = con.sql(
        "SELECT 1 - count(DISTINCT (l_orderkey, l_linenumber)) / count(*) "
        "FROM lineitem").fetchone()[0]
    for name in dict.fromkeys(HEADLINE_QUERIES + TPCH_SF1_QUERIES):
        out[f"oracle rows: {name}"] = len(con.sql(q.ORACLES[name]).fetchall())
    con.close()
    return out


def main() -> None:
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    ref, gen = figures(sys.argv[1]), figures(sys.argv[2])
    print(f"| figure | {os.path.basename(sys.argv[1].rstrip('/'))} (reference) | generated | |")
    print("|---|---|---|---|")
    for key, a in ref.items():
        b = gen[key]
        off = abs(a - b) > 0.05 * max(abs(a), abs(b)) and abs(a - b) > 1
        print(f"| {key} | {a:.4g} | {b:.4g} | {'differs' if off else ''} |")


if __name__ == "__main__":
    main()
