#!/usr/bin/env python3
"""Local pre-check replicating the driver's DuckDB oracle compare.

Usage: python3 scripts/check_oracle.py <sfDir> <verifyOutDir>
Loads each <verifyOutDir>/<name>/ parquet (Spark output), runs the matching
oracle SQL from oracle_sql.json in DuckDB with the sf tables registered by
bare name, then compares: columns sorted by name, ARROW TYPES equal (round-1
lesson: the driver's hash is type-sensitive — value-equal DECIMAL(28,2) vs
DECIMAL(38,2), or BIGINT vs HUGEINT, fail its hash), rows sorted, values
exact (floats also reported with 1e-9 rel tolerance so we can distinguish
hash-fail from genuine divergence).
"""
import sys, os, json, glob, math
import duckdb

def load_spark(con, d):
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    if not files:
        return None
    return con.execute(
        f"SELECT * FROM read_parquet({files!r})").fetch_arrow_table()

def canon_type(t):
    """Canonical type string; large_string==string, timestamp UNIT kept
    (tz dropped) — the driver hashes parquet-level logical types, and
    TIMESTAMP(MILLIS) vs TIMESTAMP(MICROS) is exactly the kind of
    value-equal type divergence its hash rejects."""
    import pyarrow as pa
    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "string"
    if pa.types.is_large_binary(t) or pa.types.is_binary(t):
        return "binary"
    if pa.types.is_timestamp(t):
        return f"timestamp[{t.unit}]"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{canon_type(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(f"{t.field(i).name}:{canon_type(t.field(i).type)}"
                         for i in range(t.num_fields))
        return f"struct<{inner}>"
    return str(t)

def norm(tbl):
    import pyarrow as pa
    cols = sorted(tbl.column_names)
    types = {f.name: canon_type(f.type) for f in tbl.schema}
    rows = []
    data = {c: tbl.column(c).to_pylist() for c in cols}
    n = tbl.num_rows
    for i in range(n):
        rows.append(tuple(data[c][i] for c in cols))
    rows.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return cols, types, rows

def driver_incompatible(tbl):
    """Output types the driver's hash pipeline cannot process (two rounds of
    history/CORRECTNESS_r*.json evidence): DECIMAL never hash-matches even when
    value- and type-equal (DuckDB->pandas float64 vs parquet Decimal
    objects), and struct/binary crash its pandas sort (unhashable dict /
    bytearray). Enforced as a WHITELIST: only the types every green query
    has ever emitted are known-safe — anything else (list, map, float32,
    decimal, struct, binary, ...) fails here rather than at the driver."""
    import pyarrow as pa
    def safe(t):
        return (pa.types.is_float64(t) or pa.types.is_integer(t)
                or pa.types.is_string(t) or pa.types.is_large_string(t)
                or pa.types.is_boolean(t) or pa.types.is_timestamp(t)
                or pa.types.is_date(t))
    bad = {}
    for f in tbl.schema:
        t = f.type
        if pa.types.is_decimal(t):
            bad[f.name] = f"decimal ({t}) — driver hash rejects all decimals"
        elif pa.types.is_struct(t):
            bad[f.name] = "struct — driver sort crashes (unhashable dict)"
        elif pa.types.is_binary(t) or pa.types.is_large_binary(t):
            bad[f.name] = "binary — driver sort crashes (unhashable bytearray)"
        elif not safe(t):
            bad[f.name] = (f"{t} — not in the known-driver-safe whitelist "
                           "(double/int/varchar/bool/timestamp/date)")
    return bad

def cmp_val(a, b):
    if a is None or b is None:
        return (a is None and b is None), True
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False, False
        exact = (fa == fb) or (math.isnan(fa) and math.isnan(fb))
        close = exact or abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
        return exact, close
    if type(a) is not type(b):
        sa, sb = str(a), str(b)
        return sa == sb, sa == sb
    return a == b, a == b

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    n_pass = n_fail = 0
    # a query whose dump is MISSING threw at runtime in Verify (it catches
    # per-query and moves on) — count it as a FAIL, not a silent absence.
    # Compare against the FULL manifest Verify dumps (queries.txt), not just
    # oracle keys: a rows-only query that throws has no oracle entry and
    # would otherwise vanish from a standalone check_oracle run.
    manifest_path = os.path.join(out_dir, "queries.txt")
    if os.path.exists(manifest_path):
        expected = set(l.strip() for l in open(manifest_path) if l.strip())
    else:
        expected = set(oracle)
    for name in sorted(expected - set(names)):
        print(f"FAIL {name}: registered query has no Spark output "
              "(query threw at runtime in Verify?)")
        n_fail += 1
    # the mirror-image hole: an output dir for a name NOT in the manifest is
    # a stale leftover of a removed/renamed query (Verify never cleans old
    # dirs). Treating it as rows-only would let a RENAME pass silently — the
    # old dir shows as SKIP while nothing gates the new name's semantics.
    if os.path.exists(manifest_path):
        stale = sorted(set(names) - expected)
        names = [n for n in names if n in expected]
        for name in stale:
            print(f"FAIL {name}: output dir not in queries.txt manifest "
                  "(stale dir from a removed/renamed query — clear outDir)")
            n_fail += 1
    for name in names:
        spark_tbl = load_spark(con, os.path.join(out_dir, name))
        if spark_tbl is None:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        bad = driver_incompatible(spark_tbl)
        if bad:
            print(f"FAIL {name}: driver-incompatible output columns: {bad}")
            n_fail += 1; continue
        if name not in oracle:
            print(f"SKIP {name}: rows-only ({spark_tbl.num_rows} rows)")
            continue
        try:
            duck_tbl = con.execute(oracle[name]).fetch_arrow_table()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}"); n_fail += 1; continue
        sc, st, sr = norm(spark_tbl)
        dc, dt, dr = norm(duck_tbl)
        if sc != dc:
            print(f"FAIL {name}: columns {sc} vs {dc}"); n_fail += 1; continue
        type_mismatch = {c: (st[c], dt[c]) for c in sc if st[c] != dt[c]}
        if type_mismatch:
            print(f"FAIL {name}: TYPE mismatch (driver hash-sensitive): "
                  f"{type_mismatch}")
            n_fail += 1; continue
        if len(sr) != len(dr):
            print(f"FAIL {name}: rows {len(sr)} vs {len(dr)}"); n_fail += 1; continue
        exact_bad = close_bad = 0
        first = None
        for i, (ra, rb) in enumerate(zip(sr, dr)):
            for j, (a, b) in enumerate(zip(ra, rb)):
                e, c = cmp_val(a, b)
                if not e:
                    exact_bad += 1
                    if first is None:
                        first = (i, sc[j], a, b)
                if not c:
                    close_bad += 1
        if close_bad:
            print(f"FAIL {name}: {close_bad} values differ beyond tol; "
                  f"first={first}")
            n_fail += 1
        elif exact_bad:
            print(f"WARN {name}: exact-hash would fail on {exact_bad} float "
                  f"values (within tol). first={first}")
            n_pass += 1
        else:
            print(f"PASS {name}: {len(sr)} rows exact")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
