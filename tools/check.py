#!/usr/bin/env python3
"""Local differential checker approximating the driver's t2 gate:
runs each oracle_sql.json query in DuckDB over the same sf dir and
compares (sorted rows, sorted columns) with the Spark parquet dump."""
import sys, os, json, glob, math
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))

STRICT = os.environ.get("CHECK_TOLERANT") is None

def canon(v):
    if isinstance(v, float):
        if math.isnan(v): return "nan"
        # strict: bit-exact (all queries pass this as of r1); tolerant
        # fallback: 6 significant digits like the reference floatpostprocess
        return repr(v) if STRICT else f"{v:.6g}"
    if isinstance(v, list): return "[" + ",".join(canon(x) for x in v) + "]"
    return repr(v)

def rowset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)

fails, passes = [], []
# Strict about the gate set: a dump with no oracle, and an oracle with
# no dump (Verify logs a gate that throws and writes nothing), both fail.
dumps = {n for n in os.listdir(outdir)
         if os.path.isdir(os.path.join(outdir, n))}
for name in sorted(set(oracle) - dumps):
    fails.append(f"{name}: MISSING (oracle but no dump)")
for name in sorted(dumps):
    d = os.path.join(outdir, name)
    if name not in oracle:
        fails.append(f"{name}: NO ORACLE (dump but no oracle)")
        continue
    gotrel = con.sql(f"SELECT * FROM '{d}/*.parquet'")
    got, gotcols = gotrel.fetchall(), list(gotrel.columns)
    gottypes = dict(zip(gotrel.columns, (str(t) for t in gotrel.types)))
    try:
        exprel = con.sql(oracle[name])
        exp, expcols = exprel.fetchall(), list(exprel.columns)
        exptypes = dict(zip(exprel.columns, (str(t) for t in exprel.types)))
    except Exception as e:
        fails.append(f"{name}: ORACLE SQL ERROR {e}")
        continue
    if sorted(gotcols) != sorted(expcols):
        fails.append(f"{name}: COLS spark={sorted(gotcols)} duck={sorted(expcols)}")
        continue
    # The driver's hasher sees the physical result types, so an oracle
    # HUGEINT (e.g. an uncast window sum(BIGINT)) hash-mismatches a Spark
    # int64 even when every value is equal (r9 q90/q94). Reproduce that
    # distinction here: compare DuckDB's reported type per column.
    tdiff = [f"{c}: spark={gottypes[c]} duck={exptypes[c]}"
             for c in sorted(gotcols) if gottypes[c] != exptypes[c]]
    if tdiff:
        fails.append(f"{name}: TYPES {tdiff}")
        continue
    a, b = rowset(got, gotcols), rowset(exp, expcols)
    if a == b:
        passes.append(f"{name}: OK ({len(got)} rows)")
    else:
        diff = [x for x in a if x not in set(b)][:3]
        diff2 = [x for x in b if x not in set(a)][:3]
        fails.append(f"{name}: MISMATCH rows spark={len(a)} duck={len(b)} "
                     f"spark_only={diff} duck_only={diff2}")
for p in passes: print("PASS", p)
for f in fails: print("FAIL", f)
print(f"\n{len(passes)} pass, {len(fails)} fail")
sys.exit(1 if fails else 0)
