"""Self-check harness mimicking the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB at the given sf dir, then compares row count, schema width, and
order-insensitive canonicalized values.  Reports per-query PASS/FAIL
plus max float deltas so rounding issues are visible before the driver
sees them.

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import glob
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, "/root/repo")


TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return str(v)


def frame_to_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out


# Spark simpleString dtype -> DuckDB type names considered hash-equal.
# The driver's value hash is TYPE-sensitive through pandas conversion:
# DuckDB HUGEINT (SUM of BIGINT) and DECIMAL (numeric-literal math)
# convert to float64/Decimal objects whose repr differs from Spark's
# int64/float64 even when values are numerically identical.  Any
# oracle projecting those must CAST (r2 lesson: t_pack_sequences).
_TYPE_EQUIV = {
    "bigint": {"BIGINT", "UBIGINT"},
    "int": {"INTEGER", "BIGINT"},  # int-width repr-safe ("42" == "42")
    "smallint": {"SMALLINT", "INTEGER", "BIGINT"},
    "tinyint": {"TINYINT", "SMALLINT", "INTEGER", "BIGINT"},
    "double": {"DOUBLE"},
    "float": {"FLOAT"},
    "string": {"VARCHAR"},
    "boolean": {"BOOLEAN"},
    "date": {"DATE"},
    "timestamp": {"TIMESTAMP", "TIMESTAMP WITH TIME ZONE", "TIMESTAMP_NS"},
    "timestamp_ntz": {"TIMESTAMP", "TIMESTAMP_NS"},
}


def type_mismatches(spark_dtypes, duck_cols, duck_types):
    """Oracle columns whose DuckDB type would hash differently from the
    Spark dtype under a type-sensitive comparison.  Returns a list of
    '(col: spark_type vs DUCK_TYPE)' strings; empty = type-parity OK."""
    duck = {c: str(t) for c, t in zip(duck_cols, duck_types)}
    bad = []
    for col, stype in spark_dtypes:
        dtype = duck.get(col)
        if dtype is None:
            continue
        base = stype.split("(")[0]
        if base.startswith("array") or base.startswith("struct") \
                or base.startswith("map"):
            continue  # nested: compared by value canon only
        if base == "decimal":
            if not dtype.startswith("DECIMAL"):
                bad.append(f"({col}: {stype} vs {dtype})")
            continue
        allowed = _TYPE_EQUIV.get(base)
        if allowed is not None and dtype not in allowed:
            bad.append(f"({col}: {stype} vs {dtype})")
    return bad


def register_views(con, sf_dir: str, tables=TABLES) -> list[str]:
    """One DuckDB view per corpus table; returns the tables skipped.

    Partial corpora (the docs-only MEGA replicas) ship only the tables
    their query families read, so a table with no parquet data is
    skipped with a notice naming it — queries touching it would fail
    on both engines anyway.  Any other DuckDB error (a corrupt or
    half-written file) propagates instead of silently degrading the
    oracle."""
    skipped = []
    for t in tables:
        # driver testdata ships single files; Spark-written stress
        # corpora (tools/scale_stress.py) are DIRECTORIES of parts
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        if not glob.glob(path):
            print(f"skip table {t}: no parquet data at {path}")
            skipped.append(t)
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return skipped


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    if os.environ.get("SELFCHECK_VANILLA"):
        # maximum driver fidelity: a plain Spark-4-defaults session
        # (ANSI ON, 200 shuffle partitions, 10MB broadcast threshold) —
        # exactly what the round driver constructs, nothing from the
        # engine's tuned builder except the UTC timezone the oracle
        # comparison requires
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName("selfcheck-vanilla")
            .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        from data_management_python_spark.session import get_spark

        spark = get_spark(app_name="selfcheck")
    con = duckdb.connect()
    register_views(con, sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = 0
    spark_total = duck_total = 0.0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        spark_total += time.time() - t0
        if name not in oracles:
            print(f"pass {name}: rows-only ({len(srows)} rows) "
                  f"[{time.time()-t0:.1f}s]")
            n_pass += 1
            continue
        t1 = time.time()
        try:
            rel = con.sql(oracles[name])
            dcols = list(rel.columns)
            dtypes = list(rel.types)
            drows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        duck_total += time.time() - t1
        ok = True
        msgs = []
        tbad = type_mismatches(sdf.dtypes, dcols, dtypes)
        if tbad:
            ok = False
            msgs.append("oracle TYPE drift (driver hash is "
                        "type-sensitive): " + " ".join(tbad))
        if len(srows) != len(drows):
            ok = False
            msgs.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(scols) != sorted(dcols):
            ok = False
            msgs.append(f"columns spark={sorted(scols)} duckdb={sorted(dcols)}")
        if ok:
            _, s = frame_to_rows(scols, [tuple(r) for r in srows])
            _, d = frame_to_rows(dcols, drows)
            if s != d:
                ok = False
                diff = [(a, b) for a, b in zip(s, d) if a != b][:3]
                msgs.append(f"values differ; first diffs: {diff}")
        if ok:
            n_pass += 1
            print(f"PASS {name} ({len(srows)} rows) [{time.time()-t0:.1f}s]")
        else:
            n_fail += 1
            print(f"FAIL {name}: " + " | ".join(msgs))
    if not only and not os.environ.get("SELFCHECK_VANILLA"):
        # full-registry run on the tuned session (the per-round CI
        # entry): regenerate the plan-digest sidecar so a query change
        # can never ship with a stale PLAN_HASHES.json (round-7;
        # vanilla sessions skip it — ANSI-mode analysis inserts
        # different cast nodes and would churn digests).
        # ALWAYS at the pinned DIGEST_SF_DIR, never this run's sf_dir:
        # six queries embed data-derived literals in their analyzed
        # plans (volume-sized bloom bits, decile/RFM quantile
        # boundaries, pagerank 1/N, tf-idf vocab, pack prefix target),
        # so digests computed at different SFs legitimately differ —
        # round-8's "unstable digests" were exactly a sf0.1-final
        # regeneration diffed against a sf0.01 rerun (round-9 fix)
        from plan_hashes import DIGEST_SF_DIR, regenerate  # noqa: PLC0415

        print()
        regenerate(spark, DIGEST_SF_DIR)
    ratio = spark_total / duck_total if duck_total else float("nan")
    print(
        f"\n{n_pass} pass, {n_fail} fail | spark {spark_total:.1f}s vs "
        f"duckdb {duck_total:.1f}s sequential at {sf_dir} = {ratio:.2f}x "
        "(correctness-harness time, NOT a benchmark: includes full "
        "result collection into Python rows on the Spark side plus "
        "cold per-query JVM job setup/codegen — bench.py at sf0.1 is "
        "the performance surface)"
    )
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
