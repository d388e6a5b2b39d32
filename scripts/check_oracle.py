"""Local oracle-differential harness — mimics the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on PySpark and its
``oracle_sql()`` on DuckDB over the same parquet, then compares:

- row count and column names;
- **Arrow-level type classes** per column (int / float / decimal / str /
  timestamp / date / bool / binary / list). Round 1 lesson: DuckDB
  ``sum()``/``list_sum()`` over BIGINT yields HUGEINT (Arrow decimal128)
  while Spark yields BIGINT — numerically equal, so a str()-only compare
  passes locally while a type-aware driver hash fails. The oracle result
  is fetched THROUGH Arrow so such divergence surfaces here;
- an order-insensitive value hash (floats rounded to 6 significant
  digits, timestamps as UTC strings), columns sorted by name.

Usage: python scripts/check_oracle.py [sf_dir] [name ...]
"""

from __future__ import annotations

import hashlib
import math
import sys
import time

sys.path.insert(0, ".")


def canon_cell(v) -> str:
    import datetime
    import decimal

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return f"{v:.6g}"
    if isinstance(v, decimal.Decimal):
        # DuckDB HUGEINT/DECIMAL via Arrow: canonicalize integral values
        # like ints so the value diff stays readable; the type-class check
        # flags the schema divergence regardless.
        if v == v.to_integral_value():
            return str(int(v))
        return f"{float(v):.6g}"
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, datetime.date):
        return v.strftime("%Y-%m-%d")
    return str(v)


def value_hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("|".join(canon_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def spark_type_class(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.DecimalType):
        return "decimal"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        return "nested"
    return dt.simpleString()


def arrow_type_class(at) -> str:
    import pyarrow as pa

    if pa.types.is_integer(at):
        return "int"
    if pa.types.is_floating(at):
        return "float"
    if pa.types.is_decimal(at):
        return "decimal"
    if pa.types.is_string(at) or pa.types.is_large_string(at):
        return "str"
    if pa.types.is_timestamp(at):
        return "timestamp"
    if pa.types.is_date(at):
        return "date"
    if pa.types.is_boolean(at):
        return "bool"
    if pa.types.is_binary(at) or pa.types.is_large_binary(at):
        return "binary"
    if (pa.types.is_list(at) or pa.types.is_large_list(at)
            or pa.types.is_map(at) or pa.types.is_struct(at)):
        return "nested"
    return str(at)


def main() -> int:
    import duckdb

    import __spark_entry__ as entry_mod
    from m5_competition_kaggle_spark.session import get_spark
    from m5_competition_kaggle_spark.sources.catalog import TABLES

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    if only:
        # explicitly-named staged (unregistered) queue entries resolve
        # too; the default full run stays the driver's registered set
        from m5_competition_kaggle_spark.queries import (
            extensions_r12,
            extensions_r13,
            extensions_r14,
            extensions_r15,
            extensions_r16,
            extensions_r17,
            extensions_r18,
            extensions_r19,
            extensions_r20,
        )

        staged_mods = (
            extensions_r12,
            extensions_r13,
            extensions_r14,
            extensions_r15,
            extensions_r16,
            extensions_r17,
            extensions_r18,
            extensions_r19,
            extensions_r20,
        )
        # staged queues must be name-disjoint — without this, a name in
        # two modules would silently resolve to the later one (ADVICE
        # r9). A hard raise, not assert: `python -O` strips asserts,
        # which would silently re-enable the shadowing (ADVICE r10).
        seen: set = set()
        for m in staged_mods:
            dup = seen & set(m.QUERIES)
            if dup:
                raise RuntimeError(
                    f"staged query name collision: {sorted(dup)}"
                )
            seen |= set(m.QUERIES)
        for k in only - set(qs):
            for staged in staged_mods:
                if k in staged.QUERIES:
                    qs[k] = staged.QUERIES[k]
                    if k in staged.ORACLES:
                        oracles[k] = staged.ORACLES[k]
                    break
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown query names: {', '.join(unknown)}", file=sys.stderr)
        return 2

    spark = get_spark("check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = []
    attempted = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        attempted += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_types = {f.name: spark_type_class(f.dataType)
                       for f in sdf.schema.fields}
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok?   {name}: rows-only check, {len(s_rows)} rows "
                  f"({time.time()-t0:.1f}s)")
            if len(s_rows) == 0:
                failures.append(name)
            continue
        try:
            tbl = con.sql(oracles[name]).arrow()
            d_cols = tbl.column_names
            d_types = {fld.name: arrow_type_class(fld.type)
                       for fld in tbl.schema}
            d_rows = [
                tuple(row[c] for c in d_cols) for row in tbl.to_pylist()
            ]
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        problems = []
        if len(s_rows) != len(d_rows):
            problems.append(f"rows {len(s_rows)} vs {len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols {sorted(s_cols)} vs {sorted(d_cols)}")
        else:
            type_diffs = [
                f"{c}: spark={s_types[c]} oracle={d_types[c]}"
                for c in s_cols if s_types[c] != d_types[c]
            ]
            if type_diffs:
                problems.append("types [" + "; ".join(type_diffs) + "]")
            sh, dh = value_hash(s_rows, s_cols), value_hash(d_rows, d_cols)
            if sh != dh:
                problems.append(f"hash {sh} vs {dh}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failures.append(name)
            # show first diffs for debugging
            order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
            order_d = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
            ls = sorted("|".join(canon_cell(r[i]) for i in order_s) for r in s_rows)
            ld = sorted("|".join(canon_cell(r[i]) for i in order_d) for r in d_rows)
            for a, b in list(zip(ls, ld))[:2000]:
                if a != b:
                    print(f"      spark: {a}\n      duck : {b}")
                    break
        else:
            print(f"PASS  {name}: {len(s_rows)} rows ({time.time()-t0:.1f}s)")

    suffix = "" if attempted == len(qs) else f" ({len(qs)} registered)"
    print(f"\n{attempted - len(failures)}/{attempted} passed{suffix}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
