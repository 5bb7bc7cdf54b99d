"""Stand-alone driver-style oracle comparison: run a registry query on Spark
and its DuckDB oracle side-by-side, compare row count, schema (column names),
TYPE KIND, and sorted-value hash. Used ad hoc (`python tests/driver_compare.py
q1 q2 ...` or `--all`) to pre-flight what the driver's CORRECTNESS gate will
see.

Comparison is ARROW-to-ARROW (spark.toArrow vs duckdb .arrow()), which is
the faithful proxy for the driver's value hash:
- BIGINT with NULLs stays int64 (a pandas fetch_df would widen to float64 —
  a false positive that mis-flagged 20+ driver-green queries);
- DuckDB HUGEINT surfaces as decimal128 — a REAL drift vs Spark's int64
  (the round-2 `rolling_7d_revenue` red: an un-cast window SUM);
- DATE is date32 on both sides.
A type-KIND mismatch (int vs float vs decimal) fails even when the printed
values agree, because the driver hashes typed values.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pyarrow as pa

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def _kind(t: pa.DataType) -> str:
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    return str(t)


def _norm(v):
    import datetime
    import math

    if v is None:
        return "null"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    # Spark's Arrow timestamps carry tz=UTC, DuckDB's are naive wall-UTC —
    # the same instant. Driver-green queries emit such columns, so the
    # driver's hash normalizes this; mirror it (values only — a timestamp
    # vs date32/int KIND mismatch is still caught by the kind check).
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return str(v.replace(tzinfo=None))
    return str(v)


def _row_set(tbl: pa.Table):
    cols = sorted(tbl.column_names)
    data = [tbl.column(c).to_pylist() for c in cols]
    return sorted(tuple(_norm(col[i]) for col in data) for i in range(tbl.num_rows))


def compare(spark, sf_dir: str, name: str, fn, oracle: str | None):
    sdf = fn(spark, sf_dir)
    s_tbl = sdf.toArrow()
    if oracle is None:
        return {"name": name, "rows": s_tbl.num_rows, "status": "rows_only"}
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    o_tbl = con.execute(oracle).arrow()

    s_cols = sorted(s_tbl.column_names)
    o_cols = sorted(o_tbl.column_names)
    ok_schema = s_cols == o_cols
    ok_rows = s_tbl.num_rows == o_tbl.num_rows
    out = {
        "name": name,
        "rows": s_tbl.num_rows,
        "oracle_rows": o_tbl.num_rows,
        "schema": "ok" if ok_schema else (s_cols, o_cols),
    }
    kind_drift = []
    if ok_schema:
        for c in s_cols:
            sk = _kind(s_tbl.schema.field(c).type)
            ok = _kind(o_tbl.schema.field(c).type)
            if sk != ok:
                kind_drift.append((c, sk, ok))
    if kind_drift:
        out["type_drift"] = kind_drift
    # Decimal outputs are banned OUTRIGHT, even when both sides agree: the
    # driver's typed-value hash normalizes Arrow decimal128 differently from
    # this replica's str() (round-5 `region_nation_rollup`: all 31 rows
    # value-identical under this compare, hash-RED at the driver). Until
    # that normalization is observable, no decimal-emitting query may
    # pre-flight green — emit BIGINT cents or DOUBLE instead.
    decimal_cols = sorted(
        {c for c in s_tbl.column_names if _kind(s_tbl.schema.field(c).type) == "decimal"}
        | {c for c in o_tbl.column_names if _kind(o_tbl.schema.field(c).type) == "decimal"}
    )
    if decimal_cols:
        out["decimal_output"] = decimal_cols
    ok_vals = False
    if ok_schema and ok_rows:
        srs, ors = _row_set(s_tbl), _row_set(o_tbl)
        ok_vals = srs == ors
        if not ok_vals:
            out["first_diffs"] = [
                (a, b) for a, b in zip(srs, ors) if a != b
            ][:3]
    out["status"] = (
        "PASS"
        if (ok_rows and ok_schema and ok_vals and not kind_drift and not decimal_cols)
        else "FAIL"
    )
    return out


def main():
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from topk_spark.session import get_spark
    from topk_spark.workload import load_all

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
    reg = load_all()
    args = sys.argv[1:]
    json_path = None
    if "--json" in args:  # --json PATH: also dump {name: result} as JSON
        i = args.index("--json")
        json_path = args[i + 1]
        args = args[:i] + args[i + 2:]
    names = list(reg) if args == ["--all"] else args
    if os.environ.get("SPARK_GRAFT_VANILLA"):
        # The driver imports __spark_entry__ into its OWN session — no UTC
        # pin, no engine confs. SPARK_GRAFT_VANILLA=1 reproduces that
        # (combine with TZ=<zone> to smoke out session-timezone-dependent
        # queries); every query fn must self-apply what it needs
        # (session.ensure_session_conf) to pass here. The task-slot count
        # follows SPARK_GRAFT_CPUS with session.get_spark's default.
        from pyspark.sql import SparkSession

        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        spark = (
            SparkSession.builder.master(f"local[{cpus}]")
            .appName("driver_compare_vanilla")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark("driver_compare")
    failures = 0
    results: dict[str, dict] = {}
    for name in names:
        q = reg[name]
        try:
            res = compare(spark, sf_dir, name, q.fn, q.oracle)
        except Exception as e:  # noqa: BLE001
            res = {"name": name, "status": "ERROR", "err": repr(e)[:300]}
        if res["status"] not in ("PASS", "rows_only"):
            failures += 1
        results[name] = res
        print(res, flush=True)
    if json_path:
        import json

        with open(json_path, "w") as fh:
            json.dump(
                {n: {k: repr(v) if k in ("schema", "type_drift", "first_diffs")
                     and not isinstance(v, str) else v
                     for k, v in r.items()}
                 for n, r in results.items()},
                fh, indent=1,
            )
    print(f"failures: {failures}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
