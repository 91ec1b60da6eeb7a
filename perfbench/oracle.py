"""Output checks against DuckDB, the engine the graft dialect comes from.

- Model DAG: the generated project's expanded SQL (oracle_A.sql /
  oracle_B.sql, one statement per model in topological order) runs in
  DuckDB over the same parquet; each mart's row count and order-insensitive
  digest must equal what graft produced for that project state.
- Query suite: each query's DuckDB oracle SQL (SparkEntry.oracleSql) runs
  over the same tables and must match graft's output, rows sorted, within
  atol 1e-9 (the rule of tools/check.py).
"""
import glob
import hashlib
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def digest(rows):
    """Row count and digest of result rows: cells as text (NULL as \\N),
    tab-joined, rows sorted, SHA-256 of the newline-joined text, first 16
    hex digits. Matches perfbench.Main.digest."""
    lines = sorted("\t".join("\\N" if v is None else str(v) for v in r)
                   for r in rows)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def model_statements(path):
    """[(model id, materialization, sql)] from an oracle_<state>.sql file."""
    out, head, body = [], None, []
    with open(path) as f:
        for line in f:
            if line.startswith("-- model "):
                if head:
                    out.append((*head, "".join(body).strip().rstrip(";")))
                head, body = line.split()[2:4], []
            else:
                body.append(line)
    if head:
        out.append((*head, "".join(body).strip().rstrip(";")))
    return out


def expected_leaf_digests(project_dir, state):
    """{leaf model: (rows, digest)} from DuckDB for project state 'A' or
    'B'; the leaves are the marts and the incremental landing table."""
    with open(os.path.join(project_dir, "leaves.txt")) as f:
        marts = f.read().split()
    con = duckdb.connect()
    try:
        for model, _, sql in model_statements(
                os.path.join(project_dir, f"oracle_{state}.sql")):
            con.execute(f"CREATE TABLE {model} AS {sql}")
        return {m: digest(con.execute(f"SELECT * FROM {m}").fetchall())
                for m in marts}
    finally:
        con.close()


def check_dag(record, expected=None):
    """Compare every iteration's mart digests (the untimed preparation
    runs included) with DuckDB's. Returns ({iteration index: [problem]},
    problems of the preparation runs)."""
    project = record["project_dir"]
    expected = expected or {}
    def exp(state):
        if state not in expected:
            expected[state] = expected_leaf_digests(project, state)
        return expected[state]
    def problems(it):
        out = []
        want = exp(it["state"])
        for mart, rows, dg in it.get("digests", []):
            if (rows, dg) != tuple(want[mart]):
                out.append(f"{mart} (state {it['state']}): graft {rows} rows "
                           f"{dg}, duckdb {want[mart][0]} rows {want[mart][1]}")
        if len(it.get("digests", [])) != len(want):
            out.append(f"checked {len(it.get('digests', []))} of {len(want)} marts")
        return out
    per_it = {i: problems(it) for i, it in enumerate(record["iterations"])}
    prep = [p for it in record.get("prep", []) for p in problems(it)]
    return per_it, prep


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="first")
    return df.reset_index(drop=True)


def expected_query_results(oracle_sql, data_dir):
    """{query: DuckDB result frame, or the error text} for each query's
    oracle SQL over the tables in `data_dir`."""
    con = duckdb.connect()
    out = {}
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
        for name, sql in oracle_sql.items():
            try:
                out[name] = con.execute(sql).df() if sql else "no oracle SQL"
            except Exception as e:  # an oracle error fails the query
                out[name] = f"oracle error: {e}"
    finally:
        con.close()
    return out


def check_queries(names, outputs_dir, expected):
    """{query: problem or None} comparing graft's parquet outputs with the
    DuckDB results from expected_query_results."""
    out = {}
    for name in names:
        want = expected.get(name, "no oracle result")
        files = glob.glob(os.path.join(outputs_dir, name, "*.parquet"))
        if isinstance(want, str):
            out[name] = want
            continue
        if not files:
            out[name] = "no graft output"
            continue
        try:
            s = _norm(pd.concat([pd.read_parquet(f) for f in files]))
            d = _norm(want)
        except Exception as e:  # unreadable or unorderable output
            out[name] = f"error: {e}"
            continue
        if list(s.columns) != list(d.columns):
            out[name] = f"columns graft={list(s.columns)} duckdb={list(d.columns)}"
        elif len(s) != len(d):
            out[name] = f"rows graft={len(s)} duckdb={len(d)}"
        else:
            try:
                pd.testing.assert_frame_equal(s, d, check_dtype=False,
                                              check_exact=False, rtol=0, atol=1e-9)
                out[name] = None
            except AssertionError as e:
                out[name] = "values differ: " + str(e)[:300]
    return out
