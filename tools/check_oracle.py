#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify),
runs the matching SQL from oracle_sql.json in DuckDB with views over
<sfDir>/*.parquet, and compares: schema (column names), row count, and
values (columns sorted by name, rows sorted by all columns). An
oracle_sql.json key with no output directory is a failure: graft.Verify
logs an operator that throws and writes nothing for it.
"""
import sys, os, json, glob
import duckdb

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def canon(rows):
    def key(r):
        return tuple((v is None, str(v)) for v in r)
    return sorted(rows, key=key)

class DecimalAtBoundary(Exception):
    """DECIMAL output columns hash differently in the driver's gate even
    when values are equal (round-1 lesson: all 12 hash_match:false
    queries had a DECIMAL column). The repo policy is BIGINT integer
    cents / formatted strings at the compare boundary, so any Decimal
    here is a bug — fail loudly instead of normalizing it away."""

BANNED_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")

def banned_cols(rel):
    """Oracle output columns whose DuckDB type would hash-mismatch a
    value-equal Spark column in the driver's gate. HUGEINT arises from
    SUM(BIGINT) (round-8/round-11 lesson), DECIMAL from untyped
    arithmetic (round-1 lesson). §6 rule: cast to BIGINT/DOUBLE/VARCHAR
    at every compare boundary. String match also catches LIST(DECIMAL)."""
    return [(c, str(t)) for c, t in zip(rel.columns, rel.types)
            if any(b in str(t) for b in BANNED_TYPES)]

def type_sweep(con, oracle):
    """Standalone mode: run every oracle with LIMIT 0 and fail on any
    banned output type — catches the bug class before graft.Verify even
    needs to run."""
    n_bad = 0
    for name in sorted(oracle):
        try:
            rel = con.sql(f"SELECT * FROM ({oracle[name]}) q LIMIT 0")
        except Exception as e:
            print(f"FAIL  {name}: oracle SQL error: {e}"); n_bad += 1; continue
        for c, t in banned_cols(rel):
            print(f"FAIL  {name}: column {c} types {t} — cast to BIGINT"); n_bad += 1
    print(f"== type sweep: {len(oracle)} oracles, {n_bad} banned-type columns ==")
    return 1 if n_bad else 0

def norm(v):
    import decimal, datetime
    if isinstance(v, decimal.Decimal):
        raise DecimalAtBoundary(str(v))
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    n_pass = n_fail = n_skip = 0
    for name in sorted(set(oracle) - set(names)):
        print(f"FAIL  {name}: no output"); n_fail += 1
    for name in names:
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            print(f"SKIP  {name}: no parquet output"); n_fail += 1; continue
        got = con.sql(f"SELECT * FROM read_parquet({files!r})")
        got_cols = sorted(got.columns)
        got_rows = got.fetchall()
        if name not in oracle:
            print(f"ROWS  {name}: {len(got_rows)} rows (no oracle)"); n_skip += 1
            continue
        try:
            exp = con.sql(oracle[name])
            exp_cols = sorted(exp.columns)
            bad_types = banned_cols(exp)
            if bad_types:
                print(f"FAIL  {name}: banned oracle output type(s) {bad_types} — "
                      f"cast to BIGINT at the compare boundary")
                n_fail += 1
                continue
            exp_rows = exp.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: oracle SQL error: {e}"); n_fail += 1; continue
        if got_cols != exp_cols:
            print(f"FAIL  {name}: cols spark={got_cols} duck={exp_cols}"); n_fail += 1; continue
        # reorder both to sorted-column order
        gi = [got.columns.index(c) for c in got_cols]
        ei = [exp.columns.index(c) for c in exp_cols]
        try:
            g = canon([[norm(r[i]) for i in gi] for r in got_rows])
            e = canon([[norm(r[i]) for i in ei] for r in exp_rows])
        except DecimalAtBoundary as d:
            print(f"FAIL  {name}: DECIMAL value at compare boundary ({d}) — "
                  f"emit BIGINT scaled integers instead")
            n_fail += 1
            continue
        if len(g) != len(e):
            print(f"FAIL  {name}: rows spark={len(g)} duck={len(e)}"); n_fail += 1; continue
        bad = [(a, b) for a, b in zip(g, e) if a != b]
        if bad:
            print(f"FAIL  {name}: {len(bad)}/{len(g)} rows differ; first: spark={bad[0][0]} duck={bad[0][1]}")
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(g)} rows"); n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail, {n_skip} rows-only ==")
    return 1 if n_fail else 0

def sweep_main(sf_dir, oracle_json):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return type_sweep(con, json.load(open(oracle_json)))

if __name__ == "__main__":
    if sys.argv[1] == "--sweep":
        sys.exit(sweep_main(sys.argv[2], sys.argv[3]))
    sys.exit(main(sys.argv[1], sys.argv[2]))
