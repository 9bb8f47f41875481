#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness gate.

usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/*.parquet produced by graft.Verify, runs the
matching SQL from oracle_sql.json in DuckDB over the sfDir tables, and
compares: schema (column names sorted), row count, and values (rows sorted,
exact equality; doubles compared bit-exact via repr).

It also flags TYPE drift the value compare cannot see — the q195 class of
bug. The official gate's hash compare is type-render sensitive: an oracle
SQL whose final projection leaves an aggregate uncast (DuckDB SUM(BIGINT) ->
HUGEINT) can hash-differ from a Spark BIGINT column even when every value is
equal (CORRECTNESS_r10's one red row). Any column whose DuckDB type widens
past the Spark type is flagged: HUGEINT vs BIGINT, DOUBLE vs BIGINT, DECIMAL
vs BIGINT, etc.

Exits 1 on any FAIL or FLAG, so it can gate a commit.
"""
import sys, json, glob

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# DuckDB type -> the Spark/parquet types it renders identically to under
# the repr() compare. Anything outside the map is flagged.
COMPATIBLE = {
    "BIGINT": {"BIGINT"},
    "INTEGER": {"INTEGER", "BIGINT"},  # repr(int) identical
    "SMALLINT": {"SMALLINT", "INTEGER", "BIGINT"},
    "TINYINT": {"TINYINT", "SMALLINT", "INTEGER", "BIGINT"},
    "UBIGINT": set(),        # never safe
    "HUGEINT": set(),        # the q195 bug class: always flag
    "DOUBLE": {"DOUBLE"},
    "FLOAT": {"FLOAT"},
    "VARCHAR": {"VARCHAR"},
    "BOOLEAN": {"BOOLEAN"},
    "DATE": {"DATE"},
    "BLOB": {"BLOB"},
}

def norm(rows):
    out = []
    for r in rows:
        out.append(tuple(repr(v) for v in r))
    return sorted(out)

def norm_type(t):
    # DECIMAL(38,0) -> DECIMAL; LIST/STRUCT pass through whole
    return t.split("(")[0] if t.startswith("DECIMAL") else t

def type_flags(name, exp_rel, got_rel):
    dt = dict(zip(exp_rel.columns, [str(t) for t in exp_rel.types]))
    st = dict(zip(got_rel.columns, [str(t) for t in got_rel.types]))
    flags = []
    for c in dt:
        if c not in st:
            flags.append(f"FLAG {name}.{c}: oracle-only column (spark cols {sorted(st)})")
            continue
        d, s = norm_type(dt[c]), norm_type(st[c])
        # DECIMAL(x,0) vs BIGINT: DuckDB renders Decimal('123'), whose repr
        # != "123", so it is flagged like any other widening
        if d != s and s not in COMPATIBLE.get(d, set()):
            flags.append(f"FLAG {name}.{c}: oracle {dt[c]} vs spark {st[c]}")
    return flags

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_flag = 0
    for name, sql in sorted(oracle.items()):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            got_rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
            got_cols = sorted(got_rel.columns)
            got = con.sql(f"SELECT {', '.join(got_cols)} FROM got_rel").fetchall()
            exp_rel = con.sql(sql)
            exp_cols = sorted(exp_rel.columns)
            exp = con.sql(f"SELECT {', '.join(exp_cols)} FROM exp_rel").fetchall()
        except Exception as e:
            print(f"FAIL {name}: {str(e)[:300]}")
            n_fail += 1
            continue
        flags = type_flags(name, exp_rel, got_rel)
        for f in flags:
            print(f)
        n_flag += len(flags)
        if got_cols != exp_cols:
            print(f"FAIL {name}: cols {got_cols} != {exp_cols}")
            n_fail += 1
            continue
        if len(got) != len(exp):
            print(f"FAIL {name}: rows {len(got)} != {len(exp)}")
            n_fail += 1
            continue
        g, e = norm(got), norm(exp)
        if g != e:
            bad = [(a, b) for a, b in zip(g, e) if a != b][:3]
            print(f"FAIL {name}: value mismatch, first diffs: {bad}")
            n_fail += 1
            continue
        print(f"PASS {name} ({len(got)} rows)")
        n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail, {n_flag} type flags ==")
    return 1 if n_fail or n_flag else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
