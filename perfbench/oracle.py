"""Compare operator outputs with their DuckDB oracles.

The comparison is the repository's own (tools/oracle_check.py): run the
entry's `SparkEntry.oracleSql` in DuckDB over the same parquet tables, sort
columns by name and rows by value, and compare the printed values.
"""
import glob
import os
import time
from concurrent.futures import ThreadPoolExecutor

TABLES = "region nation customer supplier part orders lineitem events documents".split()


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    rows = [tuple(str(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows), list(df.columns)


def compare(tables_dir, entries, corrupt=False):
    """entries: [{"entry", "dir", "sql"}]. Returns one check per entry. With
    `corrupt`, the first entry's first row is altered before comparing (the
    self-test's proof that a wrong row is caught)."""
    import duckdb
    import pyarrow.parquet as pq

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(tables_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    def check(i, e):
        name = f"{e['entry']} matches its DuckDB oracle"
        t0 = time.perf_counter()
        try:
            files = sorted(glob.glob(os.path.join(e["dir"], "*.parquet")))
            got_rows, got_cols = canon(pq.ParquetDataset(files).read().to_pandas())
            want_rows, want_cols = canon(con.cursor().execute(e["sql"]).df())
        except Exception as ex:  # an oracle that cannot run is a failed check
            return {"name": name, "ok": False, "detail": f"error: {ex}"[:500]}
        if corrupt and i == 0 and got_rows:
            got_rows[0] = ("corrupted",) + got_rows[0][1:]
            got_rows.sort()
        if got_cols != want_cols:
            ok, detail = False, f"columns {got_cols} vs {want_cols}"
        elif got_rows != want_rows:
            ok, detail = False, f"{len(got_rows)} rows vs {len(want_rows)}; first differing row differs"
        else:
            ok, detail = True, f"{len(got_rows)} rows"
        detail += f" ({time.perf_counter() - t0:.1f} s)"
        return {"name": name, "ok": ok, "detail": detail}

    # the oracles are independent; the slowest (corpus_pipeline_v2) sets the time
    with ThreadPoolExecutor(max_workers=4) as pool:
        checks = list(pool.map(check, range(len(entries)), entries))
    con.close()
    return checks
