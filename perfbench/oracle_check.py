#!/usr/bin/env python3
"""Check golden digests against the DuckDB oracle.

    python3 perfbench/oracle_check.py <corpus_dir> <oracle.json>

oracle.json lists {name, rows, digest, sql} for golden queries that have
oracle SQL (perfbench.Calibrate writes it). Each SQL runs in DuckDB over
views of the corpus's parquet tables; its rows are canonicalised exactly as
perfbench/Digest.scala does, and the row count and order-insensitive
digest must equal the golden ones. Exits 1 on any mismatch.
"""
import datetime
import decimal
import json
import os
import sys

import duckdb

from inputs import MASK, hash64

CTX = decimal.Context(prec=10, rounding=decimal.ROUND_HALF_EVEN)


def num(d):
    r = CTX.plus(d)
    if r.is_zero():
        return "0"
    return format(r.normalize(CTX), "f")


def canonical(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NULL" if v != v else num(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return num(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        return s + (".%06d" % v.microsecond if v.microsecond else "")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(canonical(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canonical(x) for x in v) + "]"
    return str(v)


def digest(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    total = 0
    for r in rows:
        item = "\u0001".join(canonical(r[i]) for i in order)
        total = (total + hash64(item)) & MASK
    return f"{len(rows)}:{total:016x}"


def main(corpus, oracle_file):
    con = duckdb.connect()
    for t in sorted(os.listdir(corpus)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{corpus}/{t}')")
    bad = 0
    checks = json.load(open(oracle_file))
    for q in checks:
        try:
            cur = con.execute(q["sql"])
            names = [d[0] for d in cur.description]
            got = digest(names, cur.fetchall())
        except Exception as e:  # an oracle DuckDB cannot run is a failed check
            got = f"error: {str(e).splitlines()[0]}"
        ok = got == q["digest"]
        bad += not ok
        print(f"oracle {'ok  ' if ok else 'FAIL'} {q['name']}" + ("" if ok else f": {got} vs {q['digest']}"))
    print(f"oracle: {len(checks) - bad} of {len(checks)} golden digests match DuckDB")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main(*sys.argv[1:3])
