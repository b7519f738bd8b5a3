#!/usr/bin/env python3
"""Re-run ONE registered oracle from a Verify dump with an explicit DuckDB
memory budget and temp directory — for triage of replays that exhaust the
default budgets, and for re-running stragglers in a FRESH process after
a full check.py run (one long-lived connection accumulates state; the
round-10 sf1 gate was OOM-killed at 130 GB RSS that way). Since the
round-10 iterated-argmax rewrite the graph-family replays fit in ~2 GB
and pass here at sf1; a replay that still exhausts the budget needs a
larger memLimit or a faster tmpDir.
CAUTION for the nine trained keys (v_knn_join_mph, the PQ family, ...):
graft.oracle renders the model each key's registry entry recorded in ITS
OWN Verify run as SQL literals, so never check one corpus against a
string dumped at another SF.

Usage: tools/check_one_oracle.py <sfDir> <verifyOutDir> <queryName>
         [memLimit] [tmpDir]
Prints the same PASS/FAIL line as check.py.
"""
import json, os, sys
import duckdb
import pandas as pd

sf, out, name = sys.argv[1], sys.argv[2], sys.argv[3]
mem = sys.argv[4] if len(sys.argv) > 4 else "100GB"
tmp = sys.argv[5] if len(sys.argv) > 5 else os.path.join(out, "ducktmp")

con = duckdb.connect()
con.sql(f"SET memory_limit='{mem}'")
con.sql(f"SET temp_directory='{tmp}'")
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    p = f"{sf}/{t}.parquet"
    if os.path.exists(p):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

sql = json.load(open(f"{out}/oracle_sql.json"))[name]
odf = con.sql(sql).df()
sdf = con.sql(f"SELECT * FROM '{out}/{name}/*.parquet'").df()
sc, oc = sorted(sdf.columns), sorted(odf.columns)
if sc != oc:
    sys.exit(f"FAIL {name}: schema spark={sc} oracle={oc}")
s = sdf[sc].sort_values(sc).reset_index(drop=True)
o = odf[oc].sort_values(oc).reset_index(drop=True)
if len(s) != len(o):
    sys.exit(f"FAIL {name}: rows spark={len(s)} oracle={len(o)}")
try:
    pd.testing.assert_frame_equal(s, o, check_exact=True)
except AssertionError as e:
    sys.exit(f"FAIL {name}: values differ ({str(e).splitlines()[0]})")
print(f"PASS {name} ({len(s)} rows)")
