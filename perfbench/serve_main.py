"""Server process of the service_requests workload: the program's own
``serve`` command (``rulemorph_spark.cli``) over the benchmark's
endpoint directory.

    python3 perfbench/serve_main.py <endpoint.yaml> [<trace file>]

With a trace file, SIGUSR1 installs the span tracer and SIGUSR2 writes
the spans, the tracer's counters and the Spark stage totals since
SIGUSR1 to that file (then uninstalls).  SIGINT stops the server; the
JVM is stopped and waited for before exit.
"""

from __future__ import annotations

import json
import os
import signal
import sys


def main() -> int:
    sys.path.insert(0, os.getcwd())
    endpoint = sys.argv[1]
    trace_out = sys.argv[2] if len(sys.argv) > 2 else None
    from rulemorph_spark import cli

    if trace_out:
        import tracer as T
        from pyspark.sql import SparkSession
        tr = T.Tracer()
        state = {}

        def start(signum, frame):
            spark = SparkSession.getActiveSession()
            state["before"] = T.stage_snapshot(spark)
            tr.reset()
            tr.install()

        def stop(signum, frame):
            tr.uninstall()
            spark = SparkSession.getActiveSession()
            payload = {"spans": tr.finished(),
                       "py4j_calls": tr.py4j_calls,
                       "fallbacks": tr.fallbacks,
                       "stages": T.stage_totals(spark, state["before"])}
            with open(trace_out + ".part", "w", encoding="utf-8") as fh:
                json.dump(payload, fh)
            os.replace(trace_out + ".part", trace_out)

        signal.signal(signal.SIGUSR1, start)
        signal.signal(signal.SIGUSR2, stop)

    rc = cli.main(["serve", "-d", endpoint, "--host", "127.0.0.1",
                   "-p", "0"])
    from pyspark.sql import SparkSession
    spark = SparkSession.getActiveSession()
    if spark is not None:
        from runinfo import stop_spark
        stop_spark(spark)
    return rc


if __name__ == "__main__":
    sys.exit(main())
