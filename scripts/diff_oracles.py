#!/usr/bin/env python3
"""Compare the oracle side of two Verify outputs, key by key.

Usage: python3 scripts/diff_oracles.py <verifyOutA> <verifyOutB>

Reads each side's queries.txt (the row manifest), oracle_sql.json (the
DuckDB SQL each row rendered) and _failures.txt (the rows whose run threw;
absent when none did). Prints every row name added to or removed from the
manifest, every oracle key that is added, removed or whose SQL differs in
any byte, and every row that failed on one side only. Verify records a
row's oracle before its frame runs, so a frame that throws on one side
alone shows up only in _failures.txt. Exits 1 on any difference, 0 when
the three files agree exactly — the check for a change that must leave
every oracle untouched.
"""
import json
import os
import sys


def load(out_dir):
    with open(os.path.join(out_dir, "queries.txt")) as f:
        names = [l.strip() for l in f if l.strip()]
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    failures_path = os.path.join(out_dir, "_failures.txt")
    failures = set()
    if os.path.exists(failures_path):
        with open(failures_path) as f:
            failures = {l.strip() for l in f if l.strip()}
    return names, oracles, failures


def first_diff(a, b):
    """Offset of the first differing character of two strings."""
    n = min(len(a), len(b))
    return next((i for i in range(n) if a[i] != b[i]), n)


def main(dir_a, dir_b):
    names_a, sql_a, failed_a = load(dir_a)
    names_b, sql_b, failed_b = load(dir_b)
    diffs = 0
    for n in sorted(set(names_a) - set(names_b)):
        print(f"queries.txt removed: {n}")
        diffs += 1
    for n in sorted(set(names_b) - set(names_a)):
        print(f"queries.txt added: {n}")
        diffs += 1
    for k in sorted(set(sql_a) | set(sql_b)):
        if k not in sql_b:
            print(f"oracle removed: {k}")
        elif k not in sql_a:
            print(f"oracle added: {k}")
        elif sql_a[k] != sql_b[k]:
            i = first_diff(sql_a[k], sql_b[k])
            print(f"oracle changed: {k} (first difference at char {i}: "
                  f"{sql_a[k][i:i + 40]!r} vs {sql_b[k][i:i + 40]!r})")
        else:
            continue
        diffs += 1
    for n in sorted(failed_a - failed_b):
        print(f"failed only in {dir_a}: {n}")
        diffs += 1
    for n in sorted(failed_b - failed_a):
        print(f"failed only in {dir_b}: {n}")
        diffs += 1
    print(f"{len(names_a)} vs {len(names_b)} rows, "
          f"{len(sql_a)} vs {len(sql_b)} oracles, "
          f"{len(failed_a)} vs {len(failed_b)} failures, {diffs} difference(s)")
    return 1 if diffs else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
