"""Driver-contract simulator: run every queries() entry and its oracle_sql()
side by side at sf0.01, sort columns by name, compare row counts + values
(the same comparison CORRECTNESS_r{N}.json records).

    python scripts/check_oracles.py [SF_DIR] [query,query,...]

The local[N] core count comes from SPARK_GRAFT_CPUS (default: all cores;
codem_spark.session.get_spark)."""
import os, sys, time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# the Python workers import codem_spark too, whatever the working directory
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
import duckdb
import pandas as pd
import __spark_entry__ as E
from codem_spark.session import get_spark

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
only = sys.argv[2].split(",") if len(sys.argv) > 2 else None

spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
con = duckdb.connect()
for t in ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"):
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

qs, os_ = E.queries(), E.oracle_sql()
fails = []
for key, fn in qs.items():
    if only and key not in only:
        continue
    t0 = time.time()
    try:
        q = fn(spark, SF).toPandas()
    except Exception as ex:
        fails.append(key); print(f"{key}: SPARK ERROR {ex}"); continue
    if key not in os_:
        print(f"{key}: NO ORACLE ({len(q)} rows, {time.time()-t0:.1f}s)"); continue
    try:
        o = con.sql(os_[key]).df()
    except Exception as ex:
        fails.append(key); print(f"{key}: ORACLE SQL ERROR {ex}"); continue
    cols = sorted(q.columns)
    ocols = sorted(o.columns)
    if cols != ocols:
        fails.append(key); print(f"{key}: COLUMN MISMATCH {cols} vs {ocols}"); continue
    q2 = q[cols].sort_values(cols).reset_index(drop=True)
    o2 = o[cols].sort_values(cols).reset_index(drop=True)
    rows_ok = len(q2) == len(o2)
    vals_ok = False
    if rows_ok:
        try:
            vals_ok = q2.equals(o2.astype(q2.dtypes.to_dict()))
        except Exception:
            vals_ok = False
    dt_q = list(q2.dtypes); dt_o = list(o2.dtypes)
    status = "OK" if (rows_ok and vals_ok) else "FAIL"
    if status == "FAIL":
        fails.append(key)
    print(f"{key}: {status} rows {len(q2)}/{len(o2)} vals={vals_ok} "
          f"dtypes_eq={dt_q == dt_o} ({time.time()-t0:.1f}s)")
    if status == "FAIL" and rows_ok:
        neq = (q2 != o2).any(axis=1)
        print(pd.concat([q2[neq].head(3), o2[neq].head(3)], axis=1))
print("FAILS:", fails or "none")
