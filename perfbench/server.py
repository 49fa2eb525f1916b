"""Engine server process of the benchmark.

Starts `api.Engine` on a local SparkSession, creates the workload's tables,
loads the preload rows the launcher wrote, creates the views, opens the
pgwire front door (`Engine.start_pg_server`, trust auth) and prints one
`READY {"port": ...}` line. It then serves until a line arrives on stdin,
writes its report (view state size and, in a traced run, the per-layer
metrics and the spans), prints `REPORTED` and stops.

    python3 perfbench/server.py --workdir DIR [--trace 1]

The Spark environment comes from the launcher: SPARK_GRAFT_CPUS,
SPARK_GRAFT_DRIVER_MEM, SPARK_LOCAL_DIRS and PYSPARK_SUBMIT_ARGS.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import workload  # noqa: E402


def state_size(path: str) -> tuple[int, int]:
    """(bytes, files) under the engine's warehouse."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(d, n))
                files += 1
            except OSError:
                pass  # a file the engine removed mid-walk
    return total, files


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    from pyspark.sql.types import LongType, StructField, StructType

    from risingwave_spark.api import Engine
    from risingwave_spark.session import get_spark

    spark = get_spark("perfbench")
    warehouse = os.path.join(args.workdir, "warehouse")
    eng = Engine(spark, warehouse)
    for stmt in workload.DDL:
        eng.sql(stmt)
    for table, cols in workload.COLUMNS.items():
        schema = StructType([StructField(c, LongType(), False) for c in cols])
        rows = spark.read.csv(os.path.join(args.workdir, f"{table}.csv"), schema=schema)
        eng.insert(table, rows)
    for stmt in workload.MV_DDL:
        eng.sql(stmt)
    _host, port = eng.start_pg_server(auth="trust")
    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer(spark)
        tracer.install(eng)
    print("READY " + json.dumps({"port": port}), flush=True)

    sys.stdin.readline()
    nbytes, nfiles = state_size(warehouse)
    report = {"state_bytes": nbytes, "state_files": nfiles}
    if tracer is not None:
        tracer.uninstall()
        tracer.dump(os.path.join(args.workdir, "spans.jsonl"))
        report["layers"] = tracer.layer_metrics()
    with open(os.path.join(args.workdir, "server_report.json"), "w") as f:
        json.dump(report, f)
    # the launcher ends this process group (JVM included) once it reads this
    print("REPORTED", flush=True)
    eng.stop_pg_server()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
