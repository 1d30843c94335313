"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB over
the same parquet tables, compare row-count + schema-width + order-
insensitive values (columns sorted by name, floats rounded).

Usage: python scripts/check_oracles.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def norm_cell(v):
    """STRICT normalization, mirroring the driver's value hash: no
    float rounding, no Decimal rescaling. A Decimal('550.00') and a
    float 550.0 must NOT compare equal — the driver's hash sees the
    representation, so we must too (round-1 lesson: the lenient 6-sig-
    fig version hid six hash_match failures)."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return f"{type(v).__name__}:{v}"


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return [c for c in sorted(cols)], out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from debezium_connector_ibmi_spark.session import get_spark

    spark = get_spark(app_name="oracle-check", cores=8, shuffle_partitions=8)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as ex:
            failures.append((name, f"SPARK ERROR: {ex}"))
            print(f"FAIL  {name}: spark error {str(ex)[:200]}")
            continue
        if name not in oracles:
            print(f"rows-only  {name}: {len(srows)} rows")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as ex:
            failures.append((name, f"DUCKDB ERROR: {ex}"))
            print(f"FAIL  {name}: duckdb error {str(ex)[:200]}")
            continue
        sc, sr = norm_rows(scols, srows)
        dc, dr = norm_rows(dcols, drows)
        if sc != dc:
            failures.append((name, f"schema {sc} vs {dc}"))
            print(f"FAIL  {name}: schema {sc} vs {dc}")
        elif len(sr) != len(dr):
            failures.append((name, f"rowcount {len(sr)} vs {len(dr)}"))
            print(f"FAIL  {name}: rowcount {len(sr)} vs {len(dr)}")
        elif sr != dr:
            diff = next(
                (i, a, b) for i, (a, b) in enumerate(zip(sr, dr)) if a != b
            )
            failures.append((name, f"values differ at {diff[0]}"))
            print(f"FAIL  {name}: first diff row {diff[0]}")
            print(f"   spark : {diff[1]}")
            print(f"   duckdb: {diff[2]}")
        else:
            print(f"OK    {name}: {len(sr)} rows")
    print()
    if failures:
        print(f"{len(failures)} FAILURES:", [f[0] for f in failures])
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()
