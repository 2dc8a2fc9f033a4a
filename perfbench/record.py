"""Record ``expected.json``: each step's (rows, content digest).

    python3 perfbench/record.py

Runs every step of ``intervals_1x`` and ``datapipe_docs`` once and
records the row count ``bench.force_count`` returned and the digest
(max and XOR of the row hash) of the same job. For ``intervals_4x`` it
runs the same calls on the 1x inputs and records their row counts: a
run checks that the 4x output has exactly 4 x as many rows.

Before writing, each recorded step with an ``oracle_sql()`` entry in
``__spark_entry__.py`` is cross-checked against DuckDB over the same
generated parquet: row counts always, and every value (compared as
``tools/check_oracle.py`` compares them) for outputs up to
``VALUE_CHECK_ROWS`` rows. Any disagreement aborts without writing.
Re-record only when the inputs or a step's definition change.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

import run

VALUE_CHECK_ROWS = 300_000
# steps whose oracle is another step's (same output by construction)
ORACLE_OF = {"overlap_prebinned": "overlap_inner"}


def _session(wl):
    from bioframe_spark.session import get_spark
    spark = get_spark("perfbench-record", cpus=run.CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.adaptive.enabled", str(wl.aqe).lower())
    return spark


def _cross_check(con, step, df, rows) -> str:
    import __spark_entry__ as em
    sys.path.insert(0, os.path.join(run.ROOT, "tools"))
    from check_oracle import canon

    sql = em.oracle_sql().get(ORACLE_OF.get(step, step))
    if sql is None:
        return "no oracle"
    orows = con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
    if orows != rows:
        raise SystemExit(f"{step}: Spark {rows} rows, DuckDB {orows}")
    if rows > VALUE_CHECK_ROWS:
        return "rows"
    got, want = canon(df.toPandas()), canon(con.sql(sql).df())
    if sorted(got.columns) != sorted(want.columns) or not got.equals(want):
        raise SystemExit(f"{step}: values differ from the DuckDB oracle")
    return "values"


def main() -> int:
    sys.path[:0] = [run.ROOT, run.HERE]
    import duckdb

    import inputs
    from bench import force_count
    from workloads import WORKLOADS, prepare_scaled

    data_dir = inputs.ensure(os.path.join(run.WORK, "data"))
    run_dir = tempfile.mkdtemp(prefix="record-", dir=run.WORK)
    run._configure_env(run_dir)
    con = duckdb.connect()
    for t in inputs.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{data_dir}/{t}.parquet'")

    expected = {}
    for name, wl in WORKLOADS.items():
        spark = _session(wl)
        if name == "intervals_4x":
            st = prepare_scaled(spark, data_dir, run_dir, 1)
        else:
            st = wl.prepare(spark, data_dir, run_dir)
        out = expected[name] = {}
        for step in wl.steps:
            df = step.construct(st)
            cap = run._Capture(df)
            rows = force_count(cap)
            if name == "intervals_4x":
                out[step.name] = {"rows_1x": rows}
                checked = "replication invariant"
            else:
                checked = _cross_check(con, step.name, df, rows)
                out[step.name] = {"rows": rows, "digest": cap.digest,
                                  "oracle": checked}
            run._log(f"{name}/{step.name}: {rows} rows ({checked})")
            del df, cap
        spark.catalog.clearCache()
        spark.stop()
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
