"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry at sf0.01 on Spark AND the
matching oracle_sql() on DuckDB (tables pre-registered as views), then
compares row count, name-sorted schema, and an order-insensitive value
hash. A query without an oracle here (expr_goldens needs the reference
checkout) is reported UNVERIFIABLE and not run. Usage:
python tools/check_oracle.py [query ...]
"""

from __future__ import annotations

import hashlib
import math
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        s = f"{v:.6g}"
        # keep floats distinguishable from ints: the driver's value hash is
        # TYPE-sensitive (r5's xpath_expressions red row: bigint 3 vs DOUBLE
        # 3.0 hashed differently while this replica's %.6g collapsed both to
        # "3" and PASSed). An integral float renders with a trailing .0 so
        # local green predicts driver green.
        if "." not in s and "e" not in s and "inf" not in s:
            s += ".0"
        return s
    return str(v)


def value_hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("\x01".join(norm_value(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    from xidel_spark.session import get_spark

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(sys.argv[1:])

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    spark = get_spark("check_oracle", master="local[8]", shuffle_partitions=8)
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            print(f"UNVERIFIABLE {name}: no oracle here (reference checkout absent)")
            continue
        try:
            sdf = fn(spark, SF_DIR)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"schema {sorted(scols)} != {sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rows {len(srows)} != {len(drows)}")
        if not problems:
            sh = value_hash([list(r) for r in srows], scols)
            dh = value_hash([list(r) for r in drows], dcols)
            if sh != dh:
                problems.append("value-hash mismatch")
                sset = {tuple(norm_value(v) for v in r) for r in srows}
                dset = {tuple(norm_value(v) for v in r) for r in drows}
                so = list(sset - dset)[:3]
                do = list(dset - sset)[:3]
                problems.append(f"spark-only={so} duck-only={do}")
        if problems:
            failures += 1
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"PASS {name}: rows={len(srows)}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
