"""Record the expected answers of the query workload in ``expected.json``.

For each generated dataset (``seed % DATA_VARIANTS``) and each query of the
query workload, this runs the query on Spark and its DuckDB oracle and
requires ``oracle_harness.compare`` to pass. It then stores the Spark schema
and the digest of the oracle's answer; a rows-only query (no oracle) stores
its schema and row count. A benchmark run checks each result against these,
so it need not run the oracles, which take minutes at this scale.

Run from the repository root, with the settings ``run.py`` uses:
``python3 perfbench/record.py``. It writes only under ``perfbench/``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run
from workload import DATA_VARIANTS, HERE, QuerySet, canonical_digest, naive_arrow_rows


def main() -> None:
    work = run.prepare_environment()
    from data_integration_spark.queries import ORACLES, QUERIES, load_all
    from data_integration_spark.session import get_spark
    from data_integration_spark.sources import catalog

    import datagen
    import oracle_harness

    load_all()
    spark = get_spark(app_name="perfbench-record")
    catalog._PYFILE_SHIPPED.add(spark.sparkContext.applicationId)
    expected: dict[str, dict] = {}
    try:
        for variant in range(DATA_VARIANTS):
            data = os.path.join(work, f"data{variant}")
            datagen.generate(data, seed=variant)
            con = oracle_harness.duck_connection(data)
            got = expected[str(variant)] = {}
            for name in QuerySet.names:
                df = QUERIES[name](spark, data)
                rec = {"dtypes": [list(d) for d in df.dtypes]}
                table = df.toArrow()
                if name in ORACLES:
                    errors = oracle_harness.compare(df, con, ORACLES[name], name)
                    if errors:
                        sys.exit(f"variant {variant}: {errors}")
                    cur = con.execute(ORACLES[name])
                    rec["digest"] = canonical_digest(
                        [c[0] for c in cur.description], cur.fetchall()
                    )
                    mine = canonical_digest(table.column_names, naive_arrow_rows(table))
                    if mine != rec["digest"]:
                        sys.exit(f"variant {variant}: {name} digests disagree")
                else:
                    rec["rows"] = table.num_rows
                got[name] = rec
                print(variant, name, rec.get("rows", "oracle ok"), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
