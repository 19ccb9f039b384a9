"""Local mirror of the driver's correctness gate — STRICTER than the driver.

Round-1 lesson (VERDICT.md "What's wrong"): the driver hashes exact
values with their serialized types, so a DuckDB HUGEINT (int128,
Arrow decimal128) result of an integer SUM hash-mismatches Spark's
BIGINT even when the Python values are identical, and a last-ulp
float divergence in corr/stddev mismatches too.  The old local gate
compared Python values rounded to 9 significant digits — it could
not see either class.

This version compares, per query:
  1. column-name sets,
  2. row counts,
  3. **Arrow type families** per column (int64-width ints are one
     family; DuckDB HUGEINT/decimal is a DIFFERENT family — this
     catches every uncast integer SUM before the driver does),
  4. **exact** cell values (floats bit-compared via repr, no
     rounding).
When exact values differ, a 9-significant-digit fallback comparison
is also run and reported, so "ulp artifact: round both sides" is
distinguishable from "wrong answer" at a glance.

Usage:  python tools/parity.py [sf_dir] [query ...]
        python tools/parity.py --loose ...   (legacy 9-sig-digit mode)
"""

from __future__ import annotations

import math
import sys
from datetime import date, datetime
from decimal import Decimal

import duckdb

sys.path.insert(0, "/root/repo")

from axolotls_spark import cacheutil
from axolotls_spark.io.sources import TABLES, table_path
from axolotls_spark.queries import REGISTRY
from axolotls_spark.session import get_spark


# --------------------------------------------------------------------------
# Arrow type families.  Two result columns are driver-compatible only if
# they land in the same family.  int8..int64 (signed or not) collapse to
# "int" because both engines materialize them through 64-bit lanes in the
# driver's hasher; decimal128 (DuckDB HUGEINT / NUMERIC) is its own family
# precisely because the driver treats it differently from int64.
# --------------------------------------------------------------------------
def _type_family(t) -> str:
    import pyarrow as pa
    import pyarrow.types as pt

    if pt.is_integer(t):
        return "int"
    if pt.is_floating(t):
        return "float"
    if pt.is_decimal(t):
        return "decimal"
    if pt.is_boolean(t):
        return "bool"
    if pt.is_string(t) or pt.is_large_string(t):
        return "str"
    if pt.is_binary(t) or pt.is_large_binary(t):
        return "bin"
    if pt.is_timestamp(t):
        return "timestamp"
    if pt.is_date(t):
        return "date"
    if pt.is_list(t) or pt.is_large_list(t) or pt.is_fixed_size_list(t):
        return f"list<{_type_family(t.value_type)}>"
    if pt.is_struct(t):
        inner = ",".join(
            f"{t.field(i).name}:{_type_family(t.field(i).type)}"
            for i in range(t.num_fields)
        )
        return f"struct<{inner}>"
    if pt.is_map(t):
        return f"map<{_type_family(t.key_type)},{_type_family(t.item_type)}>"
    if pt.is_null(t):
        return "null"
    return str(t)


def _exact_cell(v):
    """Canonical form preserving type identity the way the driver's
    serializer would: Decimal stays Decimal (≠ int), float kept exact."""
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, Decimal):
        return ("dec", str(v))
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "NaN")
        return ("f", repr(v))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, datetime):
        return ("ts", v.replace(tzinfo=None).isoformat(sep=" "))
    if isinstance(v, date):
        return ("d", v.isoformat())
    if isinstance(v, bytes):
        return ("bin", v)
    if isinstance(v, (list, tuple)):
        return tuple(_exact_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _exact_cell(x)) for k, x in v.items()))
    return v


def _loose_cell(v):
    """Legacy 9-significant-digit normalization (diagnostic fallback)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        if v == 0:
            return 0.0
        return float(f"{v:.9g}")
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="seconds")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_loose_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _loose_cell(x)) for k, x in v.items()))
    return v


def _norm_rows(cols, rows, cell):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(cell(r[i]) for i in idx) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def compare(name: str, spark, con, sf_dir: str, loose: bool = False) -> tuple[bool, str]:
    spec = REGISTRY[name]
    sdf = spec.fn(spark, sf_dir)
    s_arrow = sdf.toArrow()
    s_cols = s_arrow.column_names
    s_rows = [tuple(d.values()) for d in s_arrow.to_pylist()]
    if spec.oracle is None:
        return (len(s_rows) >= 0, f"rows-only: {len(s_rows)} rows")
    d_arrow = con.execute(spec.oracle).arrow()
    d_cols = d_arrow.column_names
    d_rows = [tuple(d.values()) for d in d_arrow.to_pylist()]
    if sorted(s_cols) != sorted(d_cols):
        return (False, f"schema mismatch: spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
    if len(s_rows) != len(d_rows):
        return (False, f"rowcount mismatch: spark={len(s_rows)} duckdb={len(d_rows)}")
    # Arrow type-family gate (the class the driver's hash catches).
    s_fam = {f.name: _type_family(f.type) for f in s_arrow.schema}
    d_fam = {f.name: _type_family(f.type) for f in d_arrow.schema}
    fam_diff = {
        c: (s_fam[c], d_fam[c]) for c in s_fam
        if s_fam[c] != d_fam[c] and "null" not in (s_fam[c], d_fam[c])
    }
    if fam_diff and not loose:
        return (False, f"TYPE mismatch (driver hash would fail): {fam_diff}")
    cell = _loose_cell if loose else _exact_cell
    sn = _norm_rows(s_cols, s_rows, cell)
    dn = _norm_rows(d_cols, d_rows, cell)
    if sn != dn:
        n_bad = sum(a != b for a, b in zip(sn, dn))
        diffs = [(a, b) for a, b in zip(sn, dn) if a != b][:2]
        if not loose:
            # Distinguish ulp artifact from a real wrong answer.
            sl = _norm_rows(s_cols, s_rows, _loose_cell)
            dl = _norm_rows(d_cols, d_rows, _loose_cell)
            kind = "ULP-ONLY (round both sides)" if sl == dl else "REAL value bug"
            return (False, f"value mismatch [{kind}] ({n_bad} rows), e.g. {diffs}")
        return (False, f"value mismatch ({n_bad} rows), e.g. {diffs}")
    return (True, f"OK ({len(s_rows)} rows)")


def main():
    args = sys.argv[1:]
    loose = "--loose" in args
    args = [a for a in args if a != "--loose"]
    # --json PATH: write a committed-artifact summary (ADVICE r5 #4 —
    # coverage claims need in-tree evidence, not prose).
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.001"
    names = [a for a in args if "/" not in a] or list(REGISTRY)
    spark = get_spark("parity", master="local[8]", extra_conf={"spark.sql.shuffle.partitions": "8"})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    failed = []
    for name in names:
        try:
            ok, msg = compare(name, spark, con, sf_dir, loose=loose)
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"EXCEPTION: {type(e).__name__}: {e}"
        status = "PASS" if ok else "FAIL"
        print(f"[{status}] {name}: {msg}", flush=True)
        if not ok:
            failed.append(name)
        # Release per-query persisted relations (Lloyd corpora, LSH
        # signatures, ...) so a 250+-query sweep doesn't accumulate
        # cached blocks for the life of the session.
        cacheutil.release_caches()
    print(f"\n{len(names) - len(failed)}/{len(names)} passed")
    if json_out:
        import json as _json

        with open(json_out, "w") as f:
            _json.dump(
                {
                    "sf_dir": sf_dir,
                    "mode": "loose" if loose else "strict",
                    "n_checked": len(names),
                    "n_passed": len(names) - len(failed),
                    "failed": failed,
                },
                f,
                indent=1,
            )
            f.write("\n")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
