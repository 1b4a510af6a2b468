"""Correctness checks against the DuckDB oracle twins.

Row values are compared as order-insensitive multisets with the engine's
own gate helper ``rows_to_multiset`` (which applies ``norm_cell``) from
``tools/check_oracle.py``); the TF-IDF relation, ~10^6 rows, is compared
inside DuckDB with ``EXCEPT ALL`` in both directions, the same multiset
rule without pulling the rows into Python.
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_oracle import rows_to_multiset  # noqa: E402  (applies norm_cell per cell)

from wikipedia_data_pipeline_spark import registry  # noqa: E402
from wikipedia_data_pipeline_spark.operators import dedup  # noqa: E402

def connect(data_dir: str, threads: int, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def expected(con, sql: str) -> tuple[list[str], list[tuple]]:
    """(column names, rows) of an oracle query."""
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def compare(name: str, cols, rows, ocols, orows) -> list[str]:
    """Row count, column names and value multiset of a Spark result
    against its oracle's; returns the mismatches found."""
    if sorted(cols) != sorted(ocols):
        return [f"{name}: columns differ spark={cols} duckdb={ocols}"]
    if len(rows) != len(orows):
        return [f"{name}: rowcount spark={len(rows)} duckdb={len(orows)}"]
    sm, om = rows_to_multiset(cols, [tuple(r) for r in rows]), rows_to_multiset(ocols, orows)
    if sm != om:
        return [f"{name}: values differ; spark-only={list((sm - om).items())[:2]} "
                f"duckdb-only={list((om - sm).items())[:2]}"]
    return []


def check_queries(runs: dict[str, dict], con, oracles: dict[str, str]) -> list[str]:
    """Each pass's ``(columns, rows)`` per query against the query's oracle."""
    bad = []
    for name in sorted({n for outputs in runs.values() for n in outputs}):
        want = expected(con, oracles[name])
        for label, outputs in runs.items():
            if name in outputs:
                bad += [f"{label} pass: {m}" for m in compare(name, *outputs[name], *want)]
    return bad


def _tfidf_mismatch(con, path: str, oracle_sql: str) -> list[str]:
    con.execute(f"CREATE OR REPLACE VIEW spark_tfidf AS SELECT * FROM read_parquet('{path}/*.parquet')")
    con.execute(f"CREATE OR REPLACE VIEW oracle_tfidf AS {oracle_sql}")
    cols = [d[0] for d in con.execute("SELECT * FROM spark_tfidf LIMIT 0").description]
    ocols = [d[0] for d in con.execute("SELECT * FROM oracle_tfidf LIMIT 0").description]
    if sorted(cols) != sorted(ocols):
        return [f"tfidf_full: columns differ spark={cols} duckdb={ocols}"]
    sel = ", ".join(sorted(cols))
    extra, missing = (
        con.execute(f"SELECT count(*) FROM (SELECT {sel} FROM {a} EXCEPT ALL SELECT {sel} FROM {b})").fetchone()[0]
        for a, b in (("spark_tfidf", "oracle_tfidf"), ("oracle_tfidf", "spark_tfidf"))
    )
    if extra or missing:
        sample = con.execute(
            f"SELECT {sel} FROM spark_tfidf EXCEPT ALL SELECT {sel} FROM oracle_tfidf LIMIT 2"
        ).fetchall()
        return [f"tfidf_full: {extra} rows only in spark, {missing} only in duckdb, e.g. {sample}"]
    return []


def check_wiki(runs: dict[str, dict], con, docs) -> list[str]:
    """TF-IDF (as last written), the Task-1 dictionary and exact dedup
    against their oracles on the generator's ground-truth documents; the
    LSH pairs and clusters against the duplicates the generator planted."""
    oracles = registry.oracle_queries()
    last = list(runs.values())[-1]
    bad = _tfidf_mismatch(con, last["tfidf_write"], oracles["tfidf_full"]) if "tfidf_write" in last else []
    bad += check_queries(
        {label: {k: v for k, v in outputs.items() if k == "task1_dictionary"} for label, outputs in runs.items()},
        con, oracles,
    )
    # exact dedup: its own action, outside the timed passes
    ex = dedup.exact_duplicates(docs)
    bad += compare("dedup_exact", ex.columns, ex.collect(), *expected(con, oracles["dedup_exact"]))
    identical = con.execute(
        "SELECT count(*) FROM documents a JOIN documents b ON a.text = b.text AND a.doc_id < b.doc_id "
        "WHERE len(string_split(a.text, ' ')) >= 3"
    ).fetchone()[0]
    copies = {
        r[0] for r in con.execute(
            "SELECT doc_id FROM (SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS keep FROM documents) "
            "WHERE doc_id <> keep"
        ).fetchall()
    }
    for label, outputs in runs.items():
        if "minhash_lsh_pairs" in outputs:
            # every pair of byte-identical copies is reported (Jaccard 1)
            found = sum(r["jaccard"] == 1.0 for r in outputs["minhash_lsh_pairs"])
            if found < identical:
                bad.append(f"{label} pass: minhash_lsh_pairs: {found} identical pairs found, {identical} planted")
        if "near_dup_clusters" in outputs:
            # every non-first copy of an exact-duplicate group is dropped
            kept = copies - {r["doc_id"] for r in outputs["near_dup_clusters"]}
            if kept:
                bad.append(f"{label} pass: near_dup_clusters: {len(kept)} duplicate copies kept")
    return bad
