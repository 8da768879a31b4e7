"""Record the ``analytics_mix`` result digests once.

    python3 perfbench/record_digests.py

Generates the fixed corpus, runs each mix entry's DuckDB ``oracle_sql()``
twin over it and writes ``perfbench/analytics_digests.json``. Entries
without a twin are recorded rows-only (column names and row count) from
the Spark result. Every entry is also run on Spark, and a disagreement
with its twin is reported and exits non-zero, so a digest is never
recorded from a twin the engine does not match.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path.insert(0, ROOT)
    import duckdb

    import __spark_entry__ as entry
    from perfbench.analytics import DIGESTS, MIX, digest, write_tables
    from perfbench.common import start_session, stop_session

    tmp = tempfile.mkdtemp(prefix="perfbench-digests-", dir=ROOT)
    os.environ["PYTHONPATH"] = ROOT
    try:
        data = os.path.join(tmp, "analytics")
        tables = write_tables(data)
        con = duckdb.connect()
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        twins, registry = entry.oracle_sql(), entry.queries()
        spark, _ = start_session(tmp, len(os.sched_getaffinity(0)))
        out, bad = {}, []
        try:
            for name in MIX:
                df = registry[name](spark, data)
                spark_rows = [tuple(r) for r in df.collect()]
                if name in twins:
                    res = con.execute(twins[name])
                    cols = [d[0] for d in res.description]
                    out[name] = digest(cols, res.fetchall())
                    if digest(df.columns, spark_rows) != out[name]:
                        bad.append(name)
                else:
                    out[name] = digest(df.columns, spark_rows, values=False)
                print(name, out[name], file=sys.stderr)
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if bad:
        print(f"Spark disagrees with the DuckDB twin on: {bad}", file=sys.stderr)
        return 1
    with open(DIGESTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
