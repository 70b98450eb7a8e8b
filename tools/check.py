#!/usr/bin/env python3
"""Local emulation of the driver's correctness gate: run graft.Verify at a
given SF, then replay each oracle SQL in DuckDB over the same parquet
tables and compare values exactly (columns sorted by name, rows in
produced order, and also order-insensitively as a fallback diagnostic).

Usage: python3 tools/check.py [sfdir] [outdir] [--skip-verify] [names...]
"""
import sys, os, json, subprocess, math

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
rest = sys.argv[3:]
skip_verify = "--skip-verify" in rest
only = [a for a in rest if not a.startswith("--")]

if not skip_verify:
    # forward the name filter to graft.Verify (it accepts substrings as
    # args 3+), so a targeted re-check computes only the named queries
    # instead of the whole inventory
    sel = " " + " ".join(only) if only else ""
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {sfdir} {outdir}{sel}'],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True, text=True)
    tail = "\n".join((r.stdout + r.stderr).splitlines()[-25:])
    if r.returncode != 0:
        print(tail); sys.exit(1)
    for line in (r.stdout + r.stderr).splitlines():
        if "[verify]" in line:
            print(line)

import duckdb, pyarrow as pa, pyarrow.parquet as pq

# ---- type-parity lint ------------------------------------------------------
# The driver's hash is TYPE-sensitive (round-1 q71 and round-2 q187 both died
# to DuckDB HUGEINT leaking from an uncast SUM while the Python value compare
# below saw identical ints). Normalize both engines' column types to one tag
# and fail on ANY drift: int width, float width, decimal precision/scale,
# HUGEINT, list element types. Timestamps compare kind-only (Spark parquet is
# tz=UTC, DuckDB results are naive — the driver normalizes that).

def duck_tag(t):
    s = str(t).upper()
    if s.endswith("[]"):
        return "list<%s>" % duck_tag(s[:-2])
    if s.startswith("DECIMAL"):
        return s.replace(" ", "").lower()
    m = {"TINYINT": "int8", "SMALLINT": "int16", "INTEGER": "int32",
         "BIGINT": "int64", "HUGEINT": "int128", "UTINYINT": "uint8",
         "USMALLINT": "uint16", "UINTEGER": "uint32", "UBIGINT": "uint64",
         "DOUBLE": "float64", "FLOAT": "float32", "REAL": "float32",
         "VARCHAR": "string", "BOOLEAN": "bool", "DATE": "date",
         "BLOB": "binary", "INTERVAL": "interval", "JSON": "string"}
    if s in m: return m[s]
    if s.startswith("TIMESTAMP"): return "timestamp"
    if s.startswith("STRUCT") or s.startswith("MAP") or s.startswith("UNION"):
        return "nested"
    return s.lower()

def arrow_tag(t):
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "list<%s>" % arrow_tag(t.value_type)
    if pa.types.is_decimal(t):
        return "decimal(%d,%d)" % (t.precision, t.scale)
    if pa.types.is_timestamp(t): return "timestamp"
    if pa.types.is_date(t): return "date"
    if pa.types.is_string(t) or pa.types.is_large_string(t): return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t): return "binary"
    if pa.types.is_struct(t) or pa.types.is_map(t): return "nested"
    return {"double": "float64", "float": "float32", "halffloat": "float16"
            }.get(str(t), str(t))  # int8..int64, uint*, bool come out right

def type_drift(scols, stypes, dcols, dtypes):
    """Columns matched by name; returns [(col, spark_tag, duck_tag), ...]."""
    dmap = {c: duck_tag(t) for c, t in zip(dcols, dtypes)}
    out = []
    for c, t in zip(scols, stypes):
        st = arrow_tag(t)
        if c in dmap and st != dmap[c]:
            out.append((c, st, dmap[c]))
    return out
# ---------------------------------------------------------------------------

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

def canon(v):
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        return v
    if hasattr(v, "isoformat"): return v.isoformat()
    if isinstance(v, (bytes, bytearray)): return v.hex()
    return v

def rows_of(cols, data):
    # columns sorted by name, like the driver
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [tuple(canon(r[i]) for i in order) for r in data]

names = only or sorted(oracle)
fails = []
for name in names:
    if name not in oracle:
        print(f"{name:28s} (no oracle — rows-only)"); continue
    pdir = f"{outdir}/{name}"
    if not os.path.isdir(pdir):
        print(f"{name:28s} MISSING spark output"); fails.append(name); continue
    tbl = pq.read_table(pdir)
    scols = list(tbl.schema.names)
    srows = rows_of(scols, [tuple(d[c] for c in scols) for d in tbl.to_pylist()])
    try:
        res = con.sql(oracle[name])
        dcols = res.columns
        drows = rows_of(dcols, res.fetchall())
    except Exception as e:
        print(f"{name:28s} ORACLE ERROR: {str(e)[:140]}"); fails.append(name); continue
    if sorted(scols) != sorted(dcols):
        print(f"{name:28s} SCHEMA MISMATCH spark={sorted(scols)} duck={sorted(dcols)}")
        fails.append(name); continue
    drift = type_drift(scols, [tbl.schema.field(c).type for c in scols],
                       dcols, res.types)
    if drift:
        print(f"{name:28s} TYPE DRIFT " + "; ".join(
            f"{c}: spark={a} duck={b}" for c, a, b in drift))
        fails.append(name); continue
    if srows == drows:
        print(f"{name:28s} OK ({len(srows)} rows)")
    elif sorted(map(repr, srows)) == sorted(map(repr, drows)):
        print(f"{name:28s} ORDER-ONLY MISMATCH ({len(srows)} rows)"); fails.append(name)
    else:
        print(f"{name:28s} VALUE MISMATCH spark={len(srows)} duck={len(drows)} rows")
        sset, dset = set(map(repr, srows)), set(map(repr, drows))
        for x in list(map(repr, srows))[:400]:
            if x not in dset: print(f"   spark-only: {x[:160]}"); break
        for x in list(map(repr, drows))[:400]:
            if x not in sset: print(f"   duck-only : {x[:160]}"); break
        # aligned row diff for same-length results
        if len(srows) == len(drows):
            for i, (a, b) in enumerate(zip(srows, drows)):
                if a != b:
                    print(f"   row {i}: spark={str(a)[:150]}")
                    print(f"   row {i}: duck ={str(b)[:150]}")
                    break
        fails.append(name)

print(f"\n{len(names)-len(fails)}/{len(names)} checked queries match")
sys.exit(1 if fails else 0)
