"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB against the same sf dir, then compares row count, column names,
and an order-insensitive multiset of row values. Exact compare by
default (catches float-determinism problems early); near-miss report
shows the first few differing rows.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0 / 0.0
        return v + 0.0
    if hasattr(v, "timestamp") and not isinstance(v, str):  # datetime
        return str(v)
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return float(v)
    except Exception:
        pass
    return v


def rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(norm_cell(r[i]) for i in order) for r in rows)


def main():
    import __spark_entry__ as entry_mod
    from wikipedia_data_pipeline_spark.operators import ranks
    from wikipedia_data_pipeline_spark.session import get_spark
    from wikipedia_data_pipeline_spark.sources.tables import duckdb_catalog

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("oracle-check")
    con = duckdb_catalog(sf_dir)

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        finally:
            # release ordered_scan/semantic_dedup plan caches between
            # queries — a full 290+-query gate otherwise accumulates
            # hundreds of persisted relations for the session lifetime
            ranks.unpersist_all()
        spark_t = time.time() - t0
        if name not in oracles:
            print(f"ok?   {name}: rows-only ({len(srows)} rows, {spark_t:.1f}s, no oracle)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            # pandas-path dtype audit: the driver compares via DataFrames,
            # where DuckDB HUGEINT/DECIMAL columns silently become float64
            # and hash differently from Spark's integers even when fetchall
            # values are identical (bit us in round 3: sample_pack_sequences).
            odtypes = {k: str(v) for k, v in con.execute(oracles[name]).fetchdf().dtypes.items()}
            stypes = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
            drift = None
            for ci, c in enumerate(ocols):
                sk, ok = stypes.get(c, ""), odtypes.get(c, "")
                s_int = sk in ("tinyint", "smallint", "int", "bigint")
                s_flt = sk in ("float", "double")
                o_int = ok.startswith(("int", "uint"))
                o_flt = ok.startswith("float")
                # NULLs legitimately float64 an integer column through
                # pandas on BOTH engines — only a null-free int column
                # arriving as float64 (HUGEINT/DECIMAL widening) drifts.
                has_null = any(r[ci] is None for r in orows)
                if (s_int and o_flt and len(orows) and not has_null) or (
                    s_flt and o_int and len(srows)
                ):
                    drift = (c, sk, ok)
                    break
            if drift:
                print(f"FAIL  {name}: pandas dtype drift on '{drift[0]}': spark={drift[1]} duckdb-pandas={drift[2]}")
                failures.append(name)
                continue
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        if sorted(scols) != sorted(ocols):
            print(f"FAIL  {name}: columns differ spark={scols} duckdb={ocols}")
            failures.append(name)
            continue
        if len(srows) != len(orows):
            print(f"FAIL  {name}: rowcount spark={len(srows)} duckdb={len(orows)}")
            failures.append(name)
            continue
        sm = rows_to_multiset(scols, srows)
        om = rows_to_multiset(ocols, orows)
        if sm != om:
            diff_s = list((sm - om).items())[:3]
            diff_o = list((om - sm).items())[:3]
            print(f"FAIL  {name}: values differ; spark-only={diff_s} duckdb-only={diff_o}")
            failures.append(name)
            continue
        print(f"PASS  {name}: {len(srows)} rows, spark {spark_t:.1f}s")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
