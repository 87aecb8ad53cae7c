#!/usr/bin/env python3
"""Compare two Verify output directories (tooling only, not part of the
library). Usage:
  python3 tools/dump_diff.py <verifyOutA> <verifyOutB>
Each query dump (a parquet directory) must be present on both sides with
an equal schema (field names, types, nullability and the Spark schema
metadata) and equal rows in equal order (pyarrow Table.equals).
oracle_sql.json must match byte for byte, and failures.json must be {} on
both sides. Prints one line per difference, then
`== N identical, M differ ==`; exits 1 on any difference."""
import json, os, sys
import pyarrow.parquet as pq

SIDE_FILES = ("oracle_sql.json", "failures.json")


def dumps(root):
    return {n for n in os.listdir(root) if os.path.isdir(os.path.join(root, n))}


def compare_dump(a, b):
    """None when the two parquet dumps are identical, else the reason."""
    ta, tb = pq.read_table(a), pq.read_table(b)
    if not ta.schema.equals(tb.schema, check_metadata=True):
        return f"schema differs: {ta.schema.to_string(show_schema_metadata=False)}" \
               f" vs {tb.schema.to_string(show_schema_metadata=False)}"
    if not ta.equals(tb):
        return f"rows differ ({ta.num_rows} vs {tb.num_rows} rows)"
    return None


def read_bytes(path):
    with open(path, "rb") as f:
        return f.read()


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = sys.argv[1], sys.argv[2]
    diffs, same = [], 0
    da, db = dumps(a), dumps(b)
    for name in sorted(da | db):
        if name not in db:
            diffs.append(f"{name}: only in {a}")
        elif name not in da:
            diffs.append(f"{name}: only in {b}")
        else:
            why = compare_dump(os.path.join(a, name), os.path.join(b, name))
            if why is None:
                same += 1
            else:
                diffs.append(f"{name}: {why}")
    for f in SIDE_FILES:
        pa, pb = os.path.join(a, f), os.path.join(b, f)
        missing = [p for p in (pa, pb) if not os.path.isfile(p)]
        if missing:
            diffs.extend(f"{f}: missing {p}" for p in missing)
        elif read_bytes(pa) != read_bytes(pb):
            diffs.append(f"{f}: bytes differ")
    for root in (a, b):
        path = os.path.join(root, "failures.json")
        if os.path.isfile(path):
            for q, msg in sorted(json.loads(read_bytes(path)).items()):
                diffs.append(f"failures.json: {q} failed in {root}: {msg}")
    for line in diffs:
        print(line)
    print(f"== {same} identical, {len(diffs)} differ ==")
    sys.exit(1 if diffs else 0)


if __name__ == "__main__":
    main()
