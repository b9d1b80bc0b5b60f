"""Writes the PageRank kernel's expected rank vector into expected.json.

    python3 perfbench/record_pagerank.py <verify-out-dir>

<verify-out-dir> is the output of `graft.Verify perfbench/fixture <dir> q88_`
(its oracle_sql.json). The script runs the q88_pagerank DuckDB oracle, the
engine's 10 PageRank supersteps unrolled as SQL, on the fixture and stores
rank by customer id under expected.json's "pagerank" key. The harness
compares K times copy 0's vector of the synthetic graph against it.
"""
import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "fixture")


def main(verify_out):
    sql = json.load(open(os.path.join(verify_out, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute(f"PRAGMA threads={len(os.sched_getaffinity(0))}")
    for t in ("lineitem", "orders"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{FIXTURE}/{t}.parquet'")
    rows = con.sql(sql["q88_pagerank"]).fetchall()
    path = os.path.join(HERE, "expected.json")
    expected = json.load(open(path))
    expected["pagerank"] = {
        "source": "q88_pagerank DuckDB oracle on perfbench/fixture",
        "rank": {str(v): float(r) for v, r in rows}}
    with open(path, "w") as fh:
        json.dump(dict(sorted(expected.items())), fh, indent=1)
        fh.write("\n")
    print(f"pagerank: {len(rows)} vertices, rank sum "
          f"{sum(r for _, r in rows):.6f}")


if __name__ == "__main__":
    main(sys.argv[1])
