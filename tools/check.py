#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL
in DuckDB over the sf parquet tables and compare (columns sorted by
name, row-sorted, value-hashed) against the Verify parquet output.

Comparison is EXACT-precision (r6 verdict item 2): values come from
`fetchall()` as native Python objects and stringify losslessly —
`Decimal` via fixed-point `:f` (never scientific), `float` via `repr`
(shortest round-trip). The previous pandas `fetchdf()` path round-
tripped DECIMAL(38,0) through float64, which is lossy above 2**53 and
rendering-normalizing — it reported OK for 11 queries the driver's
hash gate failed."""
import decimal
import glob
import hashlib
import json
import multiprocessing
import os
import sys

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def cell(v):
    if isinstance(v, decimal.Decimal):
        return f"{v:f}"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, list):
        return "[" + ", ".join(cell(x) for x in v) + "]"
    return str(v)


def canon(con, rel_sql):
    rel = con.sql(rel_sql)
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    types = {cols[i]: str(rel.types[i]) for i in order}
    rows = [tuple(cell(r[i]) for i in order) for r in rel.fetchall()]
    rows.sort()
    h = hashlib.md5(repr(rows).encode()).hexdigest()
    return types, len(rows), h, rows


_con = None


def _connect(sf_dir):
    """This process's DuckDB connection, with the sf tables as views.
    Opened on first use rather than in a Pool initializer: an
    initializer that raises makes the pool respawn workers forever."""
    global _con
    if _con is None:
        _con = duckdb.connect()
        for t in TABLES:
            p = f"{sf_dir}/{t}.parquet"
            if os.path.exists(p):
                _con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return _con


def compare(job):
    """Verdict lines for one query's dump, and "ok", "bad" or None.
    `oracle_sql` is None for a query without an oracle entry."""
    sf_dir, out_dir, name, oracle_sql = job
    con = _connect(sf_dir)
    d = os.path.join(out_dir, name)
    files = glob.glob(f"{d}/*.parquet")
    if not files:
        return [f"MISSING-OUTPUT {name}"], "bad"
    spark_rel = f"SELECT * FROM read_parquet({files!r})"
    if oracle_sql is None:
        n = con.sql(f"SELECT count(*) FROM ({spark_rel})").fetchone()[0]
        return [f"ROWS-ONLY      {name}: {n} rows"], None
    try:
        stypes, sn, sh, srows = canon(con, spark_rel)
        otypes, on, oh, orows = canon(con, oracle_sql)
    except Exception as e:
        return [f"ERROR          {name}: {e}"], "bad"
    if sh == oh:
        return [f"OK             {name}: {sn} rows"], "ok"
    out = [f"MISMATCH       {name}: spark {sn} rows vs oracle {on} rows"]
    if list(stypes) != list(otypes):
        out.append(f"  spark cols:  {stypes}")
        out.append(f"  oracle cols: {otypes}")
    shown = 0
    for a, b in zip(srows, orows):
        if a != b and shown < 3:
            out.append(f"  spark:  {a}\n  oracle: {b}")
            shown += 1
    if sn != on:
        sset, oset = set(srows), set(orows)
        for r in sorted(sset - oset)[:2]:
            out.append(f"  only-spark:  {r}")
        for r in sorted(oset - sset)[:2]:
            out.append(f"  only-oracle: {r}")
    return out, "bad"


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/target/verify_out"
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # optional name filter (argv[3:]) for single-query dev iteration;
    # a named query without a dump dir is skipped, like any absent dir
    only = set(sys.argv[3:])
    names = [n for n in sorted(os.listdir(out_dir))
             if os.path.isdir(os.path.join(out_dir, n))
             and (not only or n in only)]
    n_ok = n_bad = 0
    # One query per task, each worker with its own connection; imap
    # yields in submission order, so the lines print in name order.
    with multiprocessing.Pool(os.cpu_count()) as pool:
        jobs = [(sf_dir, out_dir, n, oracle.get(n)) for n in names]
        for lines, verdict in pool.imap(compare, jobs):
            for line in lines:
                print(line)
            n_ok += verdict == "ok"
            n_bad += verdict == "bad"
    print(f"\n{n_ok} ok, {n_bad} bad")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
