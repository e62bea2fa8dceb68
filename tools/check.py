#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [query ...]

Reads <verifyOutDir>/<name>/ parquet (Spark output) and oracle_sql.json,
runs each oracle SQL in DuckDB with the sf tables registered as views,
sorts columns by name, and compares row-by-row. Reports per-query
match/mismatch with first differing cell. Exits 1 on any mismatch, on a
name with no oracle, and when no query was checked.
"""
import sys, json, glob, math
import duckdb

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    unknown = sorted(only - set(oracle))
    if unknown:
        print(f"unknown query names (no oracle): {', '.join(unknown)}")
        sys.exit(1)
    n_pass = n_fail = 0
    for name in sorted(oracle):
        if only and name not in only:
            continue
        try:
            # sorted(): part-file names sort in global row order after an
            # orderBy write; glob order alone could scramble rows.
            files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
            if not files:
                print(f"FAIL {name}: no spark output")
                n_fail += 1
                continue
            got = con.sql(f"SELECT * FROM read_parquet({files!r})")
            gcols = sorted(got.columns)
            got_rows = got.project(', '.join(q(c) for c in gcols)).fetchall()
            exp = con.sql(oracle[name])
            ecols = sorted(exp.columns)
            exp_rows = exp.project(', '.join(q(c) for c in ecols)).fetchall()
            if [c.lower() for c in gcols] != [c.lower() for c in ecols]:
                print(f"FAIL {name}: columns spark={gcols} duck={ecols}")
                n_fail += 1
                continue
            # Type parity: the driver's canonical row formatter renders a
            # DuckDB HUGEINT/DECIMAL differently from Spark's BIGINT even
            # when the Python values compare equal, so a type mismatch is a
            # driver hash-fail that value comparison below cannot see
            # (that's exactly how j2/l17 shipped red in round 5).
            gtypes = {c.lower(): str(t) for c, t in zip(got.columns, got.types)}
            etypes = {c.lower(): str(t) for c, t in zip(exp.columns, exp.types)}
            mism = [(c, gtypes[c], etypes[c]) for c in sorted(gtypes)
                    if not type_ok(gtypes[c], etypes[c])]
            if mism:
                c, gt, et = mism[0]
                print(f"FAIL {name}: type parity col {c}: spark={gt} duck={et}")
                n_fail += 1
                continue
            if len(got_rows) != len(exp_rows):
                print(f"FAIL {name}: rows spark={len(got_rows)} duck={len(exp_rows)}")
                n_fail += 1
                continue
            bad = None
            for r, (g, e) in enumerate(zip(got_rows, exp_rows)):
                for ci, (gv, ev) in enumerate(zip(g, e)):
                    if not eq(gv, ev):
                        bad = (r, gcols[ci], gv, ev)
                        break
                if bad:
                    break
            if bad:
                r, c, gv, ev = bad
                print(f"FAIL {name}: row {r} col {c}: spark={gv!r} duck={ev!r}")
                n_fail += 1
            else:
                print(f"PASS {name} ({len(got_rows)} rows)")
                n_pass += 1
        except Exception as ex:
            print(f"ERROR {name}: {str(ex)[:300]}")
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail or not n_pass else 0)

def q(c):
    return f'"{c}"'

def type_ok(spark_t, duck_t):
    """Conservative cross-engine type equivalence. Anything not listed is a
    mismatch — in particular HUGEINT or DECIMAL on the oracle side of an
    integer/double Spark column, the two shapes that diverge in the gate
    driver's canonical formatter while comparing equal as Python values."""
    if spark_t == duck_t:
        return True
    # Narrower oracle integers formatting identically to Spark's wider ones
    # (and vice versa) are safe: the formatter prints digits either way.
    ints = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT"}
    return spark_t in ints and duck_t in ints

def eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb  # exact: the driver hashes, so near-miss = fail
    if type(a) is not type(b):
        try:
            return a == b and str(a) == str(b)
        except Exception:
            return False
    return a == b

if __name__ == "__main__":
    main()
