"""Output checks that run outside the JVM, against DuckDB.

`run(workload, work)` returns (attempted, failures) to merge into the
JVM's result; `self_test()` feeds the comparison corrupted results and
returns the corruptions it failed to notice. Frames are compared with
the repository's oracle comparator (`tools/check_oracle.py`: columns
sorted by name, rows sorted, floats to 4 dp, nested cells rejected).
"""
import json
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from check_oracle import nested_cols, norm_df  # noqa: E402


def same_result(got, want):
    """None when two frames hold the same rows, else why not."""
    nested = nested_cols(got) + nested_cols(want)
    if nested:
        return f"array/struct columns {sorted(set(nested))}"
    gc, gr = norm_df(got)
    wc, wr = norm_df(want)
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != {len(wr)}"
    diffs = [(a, b) for a, b in zip(gr, wr) if a != b]
    return f"first diff {diffs[0]}" if diffs else None


def _views(con, table_dir):
    for p in sorted(Path(table_dir).glob("*.parquet")):
        src = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{src}')")


def check_corpus(work):
    """Kept ids of the first timed pass == the DuckDB twin's (one more
    checked operation)."""
    con = duckdb.connect()
    _views(con, work / "input")
    if not (work / "kept_0").is_dir():
        return 1, ["corpus kept set: the first pass wrote no result"]
    want = con.execute((work / "corpus_twin.sql").read_text()).fetchdf()
    got = con.execute(f"SELECT * FROM read_parquet('{work}/kept_0/*.parquet')").fetchdf()
    why = same_result(got, want)
    return 1, ([] if why is None else [f"corpus kept set vs DuckDB twin: {why}"])


def check_analytic(work):
    """Each query's last rows == its registry oracle SQL on the same
    tables; one checked operation per query."""
    con = duckdb.connect()
    _views(con, work / "tables")
    res = work / "results"
    failures = []
    oracle = json.loads((res / "oracle_sql.json").read_text())
    for name, sql in sorted(oracle.items()):
        if not (res / name).is_dir():
            failures.append(f"{name}: no result to check (the query failed)")
            continue
        got = con.execute(f"SELECT * FROM read_parquet('{res / name}/*.parquet')").fetchdf()
        try:
            want = con.execute(sql).fetchdf()
        except duckdb.Error as e:
            failures.append(f"{name}: oracle SQL error: {e}")
            continue
        why = same_result(got, want)
        if why is not None:
            failures.append(f"{name}: differs from oracle: {why}")
    return len(oracle), failures


def run(workload, work):
    """Checks of the corpus or analytic run in `work`."""
    return {"corpus": check_corpus, "analytic": check_analytic}[workload](Path(work))


def self_test():
    """The comparison must flag every corrupted copy of a correct result."""
    import pandas as pd
    base = pd.DataFrame({"doc_id": [1, 2, 3, 4], "source": ["a", "a", "b", "b"],
                         "n_toks": [10, 20, 30, 40], "cum_before": [0, 10, 0, 30]})
    bad = []
    if same_result(base.sample(frac=1, random_state=1), base) is not None:
        bad.append("same_result rejects a reordered but equal result")
    corrupt = {
        "dropped row": base.iloc[:-1],
        "flipped kept id": base.assign(doc_id=[1, 2, 3, 5]),
        "changed value": base.assign(cum_before=[0, 10, 0, 31]),
        "renamed column": base.rename(columns={"n_toks": "ntoks"}),
        "float off by 1e-3": base.assign(n_toks=[10.0, 20.0, 30.0, 40.001]),
        "nested cell": base.assign(source=[[1], [2], [3], [4]]),
    }
    for what, df in corrupt.items():
        if same_result(df, base) is None:
            bad.append(f"same_result misses a {what}")
    return bad
