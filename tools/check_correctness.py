"""Local replica of the driver's correctness gate.

Runs every `queries()` entry on Spark and its `oracle_sql()` on DuckDB at
the given sf dir, then compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted, values
canonicalized to strings). Use while iterating:

    python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import duckdb

import __spark_entry__ as entrymod
from odbc2deltalake_spark.session import get_spark
from odbc2deltalake_spark.queries.registry import DRIVER_WINDOW, TABLE_NAMES


def canon(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x02")
    return h.hexdigest()


def main() -> int:
    flags = [a for a in sys.argv[1:] if a.startswith("--")]
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    vanilla = "--vanilla" in flags
    window = "--window" in flags  # only the driver's 50-entry window
    json_out = next(
        (f.split("=", 1)[1] for f in flags if f.startswith("--json=")), None
    )
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    if vanilla:
        # Replicate the driver harness: a plain session with none of the
        # engine's confs — queries must be session-independent.
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("check_correctness_vanilla")
            .config("spark.sql.shuffle.partitions", "8")
            .getOrCreate()
        )
    else:
        spark = get_spark("check_correctness")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if window:
        # the external driver enumerates exactly the first DRIVER_WINDOW
        # entries
        keep = list(qs)[:DRIVER_WINDOW]
        if "--flagships" in flags:
            # VERDICT r10 #6: flagship-tagged OVERFLOW entries keep
            # sf0.1 oracle coverage across rotation churn — eviction
            # from the window must never silently drop the bench-scale
            # check for an operator the round shipped as a headliner
            from odbc2deltalake_spark.queries import registry as _reg

            keep += [
                s.name
                for s in _reg.ordered_specs()
                if s.priority >= 100 and "flagship" in s.tags
            ]
        qs = {n: qs[n] for n in keep}
    failures = []
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            results[name] = {"status": "fail", "error": str(e)[:200]}
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            results[name] = {
                "status": "rows-only",
                "rows": len(srows),
                "sec": round(time.time() - t0, 1),
            }
            continue
        try:
            res = con.sql(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            results[name] = {"status": "fail", "error": str(e)[:200]}
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duckdb={sorted(dcols)}")
        if not problems:
            sh = table_hash(scols, srows)
            dh = table_hash(dcols, drows)
            if sh != dh:
                problems.append("value-hash mismatch")
                # show first differing canonical line for debugging
                so = sorted(range(len(scols)), key=lambda i: scols[i])
                do = sorted(range(len(dcols)), key=lambda i: dcols[i])
                sl = sorted("\x01".join(canon(r[i]) for i in so) for r in srows)
                dl = sorted("\x01".join(canon(r[i]) for i in do) for r in drows)
                for a, b in zip(sl, dl):
                    if a != b:
                        problems.append(f"  spark : {a[:200]}")
                        problems.append(f"  duckdb: {b[:200]}")
                        break
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems[:1]))
            for p in problems[1:]:
                print(p)
            failures.append(name)
            results[name] = {"status": "fail", "error": problems[0][:200]}
        else:
            print(f"PASS {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
            results[name] = {
                "status": "pass",
                "rows": len(srows),
                "sec": round(time.time() - t0, 1),
            }
    print()
    if json_out:
        import json as _json

        Path(json_out).write_text(
            _json.dumps({"sf_dir": sf_dir, "results": results}, indent=1)
            + "\n"
        )
        print(f"wrote {json_out}")
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        return 1
    print("all queries pass")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
