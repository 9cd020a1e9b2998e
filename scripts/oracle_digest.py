"""Digest of every oracle's DuckDB result, without Spark.

Runs each key's oracle SQL on DuckDB and prints one JSON line per key:
the column names, the DuckDB column types and the sha256 of the
canonical rows (``check_oracle.canon``: columns in name order, values
by ``repr``, rows sorted). Diffing the output of two checkouts shows
whether an oracle rewrite left every result byte-identical. Usage:

    python scripts/oracle_digest.py [sf_dir] [key ...]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, ".")
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check_oracle import canon, duck_conn  # noqa: E402

from __spark_entry__ import oracle_sql  # noqa: E402


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    con = duck_conn(sf_dir)
    for name, sql in sorted(oracle_sql().items()):
        if only and name not in only:
            continue
        try:
            rel = con.sql(sql)
            cols = rel.columns
            types = [str(t) for t in rel.types]
            rows = canon(rel.fetchall(), cols)
        except Exception as e:
            print(json.dumps({"key": name, "error": f"{type(e).__name__}: {e}"}))
            continue
        digest = hashlib.sha256(repr(rows).encode()).hexdigest()
        print(
            json.dumps(
                {
                    "key": name,
                    "columns": cols,
                    "types": types,
                    "rows": len(rows),
                    "sha256": digest,
                }
            )
        )


if __name__ == "__main__":
    main()
