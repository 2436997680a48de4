"""The curation fixture and its DuckDB reference.

The fixture in `curation_fixture/` is a fixed slice of the repository's
sf0.1 test data: the documents with doc_id < 1000 and the embeddings with
vec_id < 500, as the sf0.1 generator wrote them. It is cut once and kept
with the benchmark, so a run reads nothing outside its checkout:

    python3 perfbench/curation.py <sf0.1 directory>

The reference runs each query's oracle SQL (`SparkEntry.oracleSql`) in
DuckDB over the same parquet files.
"""
import os
import sys

import duckdb

import fingerprint as fp

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "curation_fixture")
SLICE = {"documents": "doc_id < 1000", "embeddings": "vec_id < 500"}

QUERIES = ["q21_dedup_exact", "q23_minhash", "q24_lsh_jaccard", "q60_simhash",
           "q105_dedup_clusters", "q106_bm25", "q109_decontaminate",
           "q118_simhash_neardup", "q132_semdedup", "q137_substring_dedup",
           "q141_semdedup_text"]


def cut(sf_dir, out_dir=FIXTURE):
    """Write the fixture: the SLICE rows of each sf0.1 table, in key order."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for t, where in SLICE.items():
        key = where.split()[0]
        con.execute(f"COPY (SELECT * FROM '{os.path.join(sf_dir, t + '.parquet')}' "
                    f"WHERE {where} ORDER BY {key}) "
                    f"TO '{os.path.join(out_dir, t + '.parquet')}' (FORMAT parquet)")


def reference(data_dir, oracle_sql):
    """Fingerprint of each query's oracle result, computed by DuckDB."""
    con = duckdb.connect()
    for t in SLICE:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t + '.parquet')}'")
    out = {}
    for q, sql in oracle_sql.items():
        cur = con.execute(sql)
        names = [d[0] for d in cur.description]
        out[q] = fp.of_rows(names, cur.fetchall())
    return out


if __name__ == "__main__":
    if len(sys.argv) != 2:
        raise SystemExit("usage: curation.py <sf0.1 directory>")
    cut(sys.argv[1])
