"""The benchmark's Spark driver session: started through the program's
own ``session.get_spark`` on ``local[cores]``, with the event log turned
on only for traced runs, and stopped so that its JVM has exited before
the run reports."""

from __future__ import annotations

import os
import time


def start(app: str, cores: int, tmp: str, event_dir: str | None):
    """-> (spark, seconds to a usable session incl. the JVM launch)."""
    from sequential_query_expansion_spark.session import get_spark

    conf = {
        # a bounded heap keeps the JVM's peak RSS steady and small on a
        # shared machine; the inputs are a few MB
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp}",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            # the default codec is zstd, which the parser cannot read
            # without the zstandard module
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(app, master=f"local[{cores}]", shuffle_partitions=cores,
                      extra_conf=conf)
    return spark, time.perf_counter() - t0


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def stop(spark, timeout: float = 60.0) -> None:
    """Stop the context, close the gateway and wait for the JVM to exit
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout)


def event_log_lines(event_dir: str) -> list:
    lines = []
    for root, _, files in os.walk(event_dir):
        for name in sorted(files):
            if name.startswith("events_") or name.startswith("local-"):
                with open(os.path.join(root, name)) as f:
                    lines.extend(f)
    return lines
