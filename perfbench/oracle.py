"""Checks the `stream_*` row outputs of a traced run against their DuckDB
oracles, with the canonicalisation of the repository's oracle gate: columns
in sorted order, each value by its full-precision repr, rows compared in
order and, failing that, as sorted lists.

    python3 perfbench/oracle.py <fixture dir> <output dir>

`<output dir>` holds one parquet directory per row and `oracle_sql.json`.
Prints one line per row and returns the number of mismatching rows.
"""

import json
import math
import sys
from pathlib import Path

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def rows_of(table):
    cols = sorted(table.column_names)
    data = [c.to_pylist() for c in table.select(cols).columns]
    return cols, [tuple(canon(c[i]) for c in data) for i in range(table.num_rows)]


def check(fixture: Path, out: Path, log=sys.stdout) -> int:
    import duckdb
    import pyarrow.parquet as pq

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture / (t + '.parquet')}/*.parquet')")
    oracle = json.loads((out / "oracle_sql.json").read_text())
    bad = 0
    for name in sorted(oracle):
        files = sorted((out / name).glob("*.parquet"))
        if not files:
            print(f"# FAIL oracle {name}: no output", file=log)
            bad += 1
            continue
        gc, gr = rows_of(pq.read_table(files[0]))
        try:
            wc, wr = rows_of(con.sql(oracle[name]).arrow())
        except Exception as e:  # an oracle that does not run is a miss too
            print(f"# FAIL oracle {name}: oracle error {e}", file=log)
            bad += 1
            continue
        if gc != wc and gc != [c.lower() for c in wc]:
            print(f"# FAIL oracle {name}: columns {gc} vs {wc}", file=log)
            bad += 1
        elif gr != wr and sorted(gr) != sorted(wr):
            print(f"# FAIL oracle {name}: {len(gr)} rows vs {len(wr)} from the oracle", file=log)
            bad += 1
        else:
            print(f"# oracle {name}: {len(gr)} rows match", file=log)
    return bad


if __name__ == "__main__":
    sys.exit(min(check(Path(sys.argv[1]), Path(sys.argv[2])), 1))
