"""Self-check: run every __spark_entry__ query against its DuckDB oracle.

Mimics the round driver: executes queries()[name](spark, sf_dir) and
oracle_sql()[name] on the same parquet tables, compares row count, sorted
column names, and an order-insensitive value hash. Usage:

    python tools/check_contract.py [sf_dir] [--queries a,b,c]

``--queries a,b`` and ``--queries=a,b`` both restrict the run to the named
queries; a name that matches no query is an error (exit status 2).
"""

from __future__ import annotations

import argparse
import hashlib
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from llm_information_extraction_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _normalize_cell(v):
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_normalize_cell(x) for x in v) + "]"
    return str(v)


def value_hash(rows: list[dict]) -> str:
    cols = sorted(rows[0].keys()) if rows else []
    lines = sorted(
        "\x1f".join(_normalize_cell(r[c]) for c in cols) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def parse_args(argv: list[str] | None = None) -> tuple[list[str], set[str] | None]:
    """([sf_dir] or [], query names or None for all); exits 2 when a
    requested name matches no query."""
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("sf_dir", nargs="?", help="default: the sf0.01 test data")
    ap.add_argument("--queries", help="comma-separated query names")
    args = ap.parse_args(argv)
    positional = [args.sf_dir] if args.sf_dir else []
    if args.queries is None:
        return positional, None
    only = {q for q in args.queries.split(",") if q}
    unknown = sorted(only - set(entrymod.queries()))
    if unknown or not only:
        ap.error(f"--queries: no contract query named {', '.join(unknown) or repr(args.queries)}")
    return positional, only


def main(argv: list[str] | None = None) -> int:
    args, only = parse_args(argv)
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    spark = get_spark(app_name="contract-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only is not None and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = [r.asDict(recursive=True) for r in sdf.collect()]
        except Exception as e:
            print(f"{name:30s} SPARK-ERROR {type(e).__name__}: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"{name:30s} rows-only   n={len(srows)}")
            continue
        try:
            cur = con.execute(oracles[name])
            cols = [d[0] for d in cur.description]
            orows = [dict(zip(cols, row)) for row in cur.fetchall()]
        except Exception as e:
            print(f"{name:30s} ORACLE-ERROR {type(e).__name__}: {e}")
            failures += 1
            continue
        n_ok = len(srows) == len(orows)
        schema_ok = sorted(srows[0].keys() if srows else []) == sorted(
            orows[0].keys() if orows else []
        )
        hash_ok = value_hash(srows) == value_hash(orows)
        status = "MATCH" if (n_ok and schema_ok and hash_ok) else "MISMATCH"
        if status == "MISMATCH":
            failures += 1
            print(
                f"{name:30s} {status}  rows {len(srows)}/{len(orows)} "
                f"schema_ok={schema_ok} hash_ok={hash_ok}"
            )
            if srows and orows and schema_ok:
                s_sorted = sorted(
                    ("\x1f".join(_normalize_cell(r[c]) for c in sorted(r))
                     for r in srows)
                )
                o_sorted = sorted(
                    ("\x1f".join(_normalize_cell(r[c]) for c in sorted(r))
                     for r in orows)
                )
                for a, b in zip(s_sorted, o_sorted):
                    if a != b:
                        print(f"    spark:  {a[:160]}")
                        print(f"    oracle: {b[:160]}")
                        break
        else:
            print(f"{name:30s} MATCH       n={len(srows)}")
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
