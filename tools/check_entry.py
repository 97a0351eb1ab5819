"""Local stand-in for the driver's correctness gate: run every
queries()[name] on Spark and oracle_sql()[name] on DuckDB at sf0.01,
compare row count + order-insensitive values.

Usage: python tools/check_entry.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def normalize(rows, cols):
    out = []
    for r in rows:
        vals = []
        for c in cols:
            v = r[c] if not isinstance(r, tuple) else r[cols.index(c)]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = f"{v:.6g}"
            vals.append(str(v))
        out.append("|".join(vals))
    return sorted(out)


def main():
    import duckdb

    import __spark_entry__ as entry_mod
    from go_parsesyslog_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # no console progress bar: it would interleave with the result lines
    spark = get_spark(master="local[8]", app_name="check_entry",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            cols = sdf.columns
            spark_rows = normalize([r.asDict() for r in sdf.collect()], cols)
        except Exception as e:
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL {name}: spark error: {str(e)[:400]}")
            continue
        if name not in oracles:
            print(f"SKIP {name}: rows-only ({len(spark_rows)} rows)")
            continue
        try:
            ddf = con.sql(oracles[name])
            dcols = [d[0] for d in ddf.description]
            duck_rows = normalize(
                [dict(zip(dcols, r)) for r in ddf.fetchall()], dcols
            )
        except Exception as e:
            failures.append((name, f"duckdb error: {e}"))
            print(f"FAIL {name}: duckdb error: {str(e)[:400]}")
            continue
        if [c.lower() for c in cols] != [c.lower() for c in dcols]:
            failures.append((name, f"schema mismatch {cols} vs {dcols}"))
            print(f"FAIL {name}: schema {cols} != {dcols}")
            continue
        if len(spark_rows) != len(duck_rows):
            failures.append((name, f"rowcount {len(spark_rows)} vs {len(duck_rows)}"))
            print(f"FAIL {name}: rowcount {len(spark_rows)} != {len(duck_rows)}")
            continue
        if spark_rows != duck_rows:
            diff = [
                (a, b) for a, b in zip(spark_rows, duck_rows) if a != b
            ][:3]
            failures.append((name, f"value mismatch e.g. {diff}"))
            print(f"FAIL {name}: values differ, first diffs: {diff}")
            continue
        print(f"OK   {name} ({len(spark_rows)} rows)")

    print(f"\n{len(failures)} failures")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
