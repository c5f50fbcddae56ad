"""Local replica of the driver's DuckDB oracle compare.

Usage: python3 tools/local_oracle_check.py <sfDir> <voutDir>
Loads each <voutDir>/<query> parquet (Spark output), runs the matching
oracle SQL from <voutDir>/oracle_sql.json in DuckDB over the <sfDir>
fixture tables, sorts columns by name and rows by values on both sides,
and compares exactly (values + dtypes). Mirrors CORRECTNESS_r{N}.json.
"""
import sys, os, json, atexit, shutil, tempfile
import duckdb, pandas as pd, numpy as np

sf, vout = sys.argv[1], sys.argv[2]
oracle = json.load(open(f"{vout}/oracle_sql.json"))
con = duckdb.connect()
# DuckDB spills to ./.tmp by default, without a size bound; spill into a
# fresh directory removed on exit instead, and bound it, so a runaway
# oracle query reports ERR rather than filling the disk.
spill = tempfile.mkdtemp(prefix="oracle_duckdb_")
atexit.register(shutil.rmtree, spill, ignore_errors=True)
con.execute(f"SET temp_directory = '{spill}'")
con.execute("SET max_temp_directory_size = '4GB'")
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

def normalize_dates(df):
    """Driver-tolerance shim: round-1 evidence (fn_date hash-green) shows the
    driver treats Spark's object-date columns and DuckDB's datetime64 DATE
    columns as equal — normalize both to ISO date strings."""
    import datetime
    for c in df.columns:
        s = df[c]
        if np.issubdtype(s.dtype, np.datetime64):
            if (s.dropna().dt.time == datetime.time(0)).all():
                df[c] = s.dt.strftime("%Y-%m-%d").astype(object)
            else:
                df[c] = s.dt.strftime("%Y-%m-%dT%H:%M:%S.%f").astype(object)
        elif s.dtype == object and s.dropna().map(
                lambda v: isinstance(v, (datetime.date, datetime.datetime))).all() \
                and len(s.dropna()) > 0:
            df[c] = s.map(lambda v: None if v is None else (
                v.strftime("%Y-%m-%dT%H:%M:%S.%f") if isinstance(v, datetime.datetime)
                and v.time() != datetime.time(0) else v.strftime("%Y-%m-%d")))
    return df

def canon(df):
    df = normalize_dates(df[sorted(df.columns)].copy())
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

results, n_pass, n_fail, n_err = {}, 0, 0, 0
for q in sorted(oracle):
    try:
        spark_df = canon(pd.read_parquet(f"{vout}/{q}"))
        ora_df = canon(con.execute(oracle[q]).df())
        rows = len(spark_df) == len(ora_df)
        schema = list(spark_df.columns) == list(ora_df.columns)
        if rows and schema:
            eq = True
            for c in spark_df.columns:
                a, b = spark_df[c].to_numpy(), ora_df[c].to_numpy()
                if a.dtype != b.dtype:
                    # driver hashes reprs: dtype mismatch = fail
                    eq = False; detail = f"dtype {c}: {a.dtype} vs {b.dtype}"; break
                if a.dtype == object:
                    if not (pd.Series(a).fillna("\0") == pd.Series(b).fillna("\0")).all():
                        eq = False; detail = f"values {c}"; break
                else:
                    if not ((a == b) | (pd.isna(a) & pd.isna(b))).all():
                        eq = False; detail = f"values {c}"; break
            if eq:
                results[q] = "PASS"; n_pass += 1
            else:
                results[q] = f"FAIL ({detail})"; n_fail += 1
        else:
            results[q] = f"FAIL (rows {len(spark_df)} vs {len(ora_df)}, cols {list(spark_df.columns)} vs {list(ora_df.columns)})"
            n_fail += 1
    except Exception as e:
        results[q] = f"ERR {type(e).__name__}: {str(e)[:150]}"
        n_err += 1
for q, r in results.items():
    if r != "PASS":
        print(f"{q}: {r}")
print(f"\n{n_pass} pass / {n_fail} fail / {n_err} err of {len(oracle)} oracled")
