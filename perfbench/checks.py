"""Output checks: query results against their DuckDB oracle, and the
near-duplicate query (which has no oracle) against exact Jaccard.

Both sides are read through DuckDB and canonicalized cell by cell with
the repository's own oracle checker (``tools/check_oracle.py``), so a
difference in any value, row count or column name fails the check.
"""

from __future__ import annotations

import os
import sys
import zlib

import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from check_oracle import canon_df  # noqa: E402


def compare(spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> str | None:
    """None when equal, else a one-line description of the first difference."""
    scols, srows = canon_df(spark_df)
    ocols, orows = canon_df(oracle_df)
    if scols != ocols:
        return f"columns {scols} != oracle {ocols}"
    if len(srows) != len(orows):
        return f"{len(srows)} rows != oracle {len(orows)}"
    for a, b in zip(srows, orows):
        if a != b:
            return f"row {str(a)[:120]} != oracle {str(b)[:120]}"
    return None


def oracle_connection(sf_dir: str, table_names) -> "duckdb.DuckDBPyConnection":  # noqa: F821
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in table_names:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def read_output(con, out_dir: str) -> pd.DataFrame:
    return con.execute(f"SELECT * FROM read_parquet('{out_dir}/*.parquet')").fetchdf()


def shingle_hashes(text: str, n: int, prime: int) -> set[int]:
    toks = text.split(" ")
    upper = max(len(toks) - n, 0) + 1
    return {zlib.crc32(" ".join(toks[i : i + n]).encode()) % prime for i in range(upper)}


def check_near_dups(
    pairs: pd.DataFrame, docs: pd.DataFrame, n: int, prime: int, threshold: float
) -> str | None:
    """Every reported pair is ordered, unique, and has the exact
    Jaccard it reports, at or above the threshold; every pair of
    identical documents is reported."""
    sh = {int(d): shingle_hashes(t, n, prime) for d, t in zip(docs["doc_id"], docs["text"])}
    seen = set()
    for a, b, j in zip(pairs["doc_a"], pairs["doc_b"], pairs["jaccard"]):
        a, b = int(a), int(b)
        if a >= b or (a, b) in seen:
            return f"pair ({a}, {b}) unordered or repeated"
        seen.add((a, b))
        exact = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        if exact != float(j) or exact < threshold:
            return f"pair ({a}, {b}) jaccard {j} != exact {exact}"
    by_text: dict[str, list[int]] = {}
    for d, t in zip(docs["doc_id"], docs["text"]):
        by_text.setdefault(t, []).append(int(d))
    for ids in by_text.values():
        ids.sort()
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                if (a, b) not in seen:
                    return f"identical documents ({a}, {b}) not reported"
    return None


def output_dir(work: str, name: str) -> str:
    return os.path.join(work, "out", name)
