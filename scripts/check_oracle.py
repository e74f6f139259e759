"""Local mirror of the driver's t2 gate: run each __spark_entry__ query on
Spark and its oracle SQL on DuckDB, compare row count / columns / values.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
       [--candidates] [--json OUT.json]

--json writes a machine-readable summary (per-gate status/wall/rows/
problems + totals) so sweep attestations don't depend on grepping logs.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from nbdatatools_spark.session import get_spark


HAZARDS: list[str] = []


def norm_cell(v):
    """Bit-exact canonicalization (VERDICT r1 #2: the old 9dp rounding was
    laxer than the driver's hash and masked failures). Floats use full repr;
    Decimal and -0.0 outputs are flagged as hazards because the driver's
    canonicalization of them is engine-dependent (Decimal('255.00') vs the
    float 255.0 was the round-1 hash-fail mechanism)."""
    import decimal

    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0 and math.copysign(1.0, v) < 0:
            HAZARDS.append("-0.0 float output")
        return repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    if isinstance(v, decimal.Decimal):
        HAZARDS.append("Decimal output column")
        return str(v)
    return v


def _none_safe_key(row):
    """Rows can mix None with values in the same column (NULL deltas on
    added/removed diff rows; NULL asof matches): Python can't order
    None against ints, so key each cell as (is-None, value). The driver
    itself is fine — pandas sort_values handles NaN."""
    return tuple((v is None, 0 if v is None else v) for v in row)


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(norm_cell(r[i]) for i in idx) for r in rows),
        key=_none_safe_key,
    )


_SCALAR_INTS = {"tinyint", "smallint", "int", "bigint"}


def hazard_scan(con, sql, sdf):
    """Mirror the DRIVER's pandas canonicalization (fetchdf + sort_values
    + value hash) hazards that the bit-exact fetchall comparison below is
    blind to — the exact mechanism behind all four r4 driver failures
    that were local-green (VERDICT r4 'What's wrong' #1/#2):

    - DuckDB types sum(<any integer>) as HUGEINT, and fetchdf renders
      HUGEINT as float64, so the driver hashes 2.0 != Spark's 2 even
      though fetchall yields Python int 2 (bit-exact locally).
    - list/struct/map-valued output columns blow up the driver's pandas
      sort_values with TypeError: unhashable type: 'list'.
    """
    from pyspark.sql import types as T

    for f in sdf.schema.fields:
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
            HAZARDS.append(
                f"non-scalar spark output column {f.name} "
                f"({f.dataType.simpleString()}): driver pandas sort dies on list cells"
            )
    spark_types = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
    try:
        desc = con.execute(f"DESCRIBE {sql}").fetchall()
    except Exception:
        return
    for row in desc:
        col, typ = row[0], str(row[1]).upper()
        if "HUGEINT" in typ:
            HAZARDS.append(
                f"HUGEINT oracle column {col}: fetchdf renders float64, "
                f"driver hashes 2.0 != 2 — CAST the sum() to BIGINT"
            )
        elif typ.endswith("[]") or typ.startswith("STRUCT") or typ.startswith("MAP"):
            HAZARDS.append(f"non-scalar oracle column {col} ({typ})")
        elif typ in ("INTEGER", "SMALLINT", "TINYINT") and spark_types.get(col) == "bigint":
            # fetchdf int32 vs Spark int64 is fine for the hash, but a
            # nullable int oracle column coerces to float64 in pandas;
            # only flag when nulls are possible is too expensive — skip.
            pass


def main():
    argv = sys.argv[1:]
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    args = [a for a in argv if a != "--candidates"]
    candidates = "--candidates" in argv
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])
    spark = get_spark(
        "oracle-check",
        shuffle_partitions=8,
        # keep the \r progress bar out of the log so `ok <gate>` lines grep cleanly
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        p = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{p}'")

    if candidates:
        # candidate staging registry (same contract, outside the live window)
        qs = entrymod.candidate_queries()
        oracles = entrymod.candidate_oracles()
    else:
        qs = entrymod.queries()
        oracles = entrymod.oracle_sql()
    failures = []
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            results[name] = {
                "status": "fail",
                "wall_sec": round(time.time() - t0, 2),
                "rows": None,
                "problems": [f"spark error: {type(e).__name__}: {e}"],
            }
            continue
        if name not in oracles:
            wall = time.time() - t0
            print(f"ok(rows-only) {name}: {len(srows)} rows in {wall:.1f}s")
            results[name] = {
                "status": "ok_rows_only",
                "wall_sec": round(wall, 2),
                "rows": len(srows),
                "problems": [],
            }
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            results[name] = {
                "status": "fail",
                "wall_sec": round(time.time() - t0, 2),
                "rows": len(srows),
                "problems": [f"duckdb error: {e}"],
            }
            continue
        problems = []
        HAZARDS.clear()
        hazard_scan(con, oracles[name], sdf)
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if not problems:
            a, b = norm_rows(scols, srows), norm_rows(ocols, orows)
            if a != b:
                diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ; first diffs: {diffs}")
        if HAZARDS:
            problems.append(f"hash-hazard outputs: {sorted(set(HAZARDS))}")
        wall = time.time() - t0
        results[name] = {
            "status": "fail" if problems else "ok",
            "wall_sec": round(wall, 2),
            "rows": len(srows),
            "problems": problems,
        }
        if problems:
            failures.append(name)
            print(f"FAIL {name}: " + " | ".join(problems))
        else:
            print(f"ok {name}: {len(srows)} rows in {wall:.1f}s")
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL OK")
    if json_out:
        import json

        with open(json_out, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "registry": "candidates" if candidates else "live",
                    "n_checked": len(results),
                    "n_fail": len(failures),
                    "failures": failures,
                    "gates": results,
                },
                fh,
                indent=1,
            )
        print(f"json summary -> {json_out}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
