"""``session.fan_out``: independent driver calls on pool threads, in both
py4j thread modes.

In pinned-thread mode (the default) each call runs wrapped by
``inheritable_thread_target``, so the caller's job description reaches the
pool threads. In classic mode (``PYSPARK_PIN_THREAD=false``) that function
returns the session itself; the helper must then run the calls unwrapped
instead of calling the session. The classic check runs in a subprocess,
because the mode is fixed when the JVM gateway starts.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

from dwh_etl_framework_spark.session import fan_out

REPO = Path(__file__).resolve().parent.parent


def test_fan_out_returns_results_in_order_and_inherits_properties(spark):
    sc = spark.sparkContext
    sc.setJobDescription("fan-out-parent")
    try:
        got = fan_out(
            spark,
            lambda: (spark.range(5).count(),
                     sc.getLocalProperty("spark.job.description")),
            lambda: (spark.range(7).count(),
                     sc.getLocalProperty("spark.job.description")),
        )
    finally:
        sc.setJobDescription(None)
    assert got == [(5, "fan-out-parent"), (7, "fan-out-parent")]


CLASSIC_SCRIPT = textwrap.dedent("""
    from pyspark.sql import functions as F

    from dwh_etl_framework_spark.operators.setjoin import (
        prefix_filter_jaccard_pairs,
    )
    from dwh_etl_framework_spark.session import SessionFactory, fan_out

    spark = SessionFactory(master="local[2]", shuffle_partitions=2).build()
    try:
        assert fan_out(spark, lambda: spark.range(3).count(),
                       lambda: 4) == [3, 4]
        docs = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "a b c d e g"), (3, "x y z w v u")],
            "doc_id long, text string",
        )
        pairs = prefix_filter_jaccard_pairs(docs, "text", "doc_id", n=3,
                                            threshold=0.5)
        got = [(r.doc_a, r.doc_b) for r in pairs.select("doc_a", "doc_b")
               .orderBy("doc_a", "doc_b").collect()]
        assert got == [(1, 2)], got
        print("CLASSIC-OK")
    finally:
        spark.stop()
""")


def test_fan_out_in_classic_thread_mode(tmp_path):
    env = dict(
        os.environ,
        PYSPARK_PIN_THREAD="false",
        SPARK_GRAFT_DRIVER_MEMORY="1g",
        PYTHONPATH=os.pathsep.join(
            [str(REPO)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
        ),
    )
    script = tmp_path / "classic.py"
    script.write_text(CLASSIC_SCRIPT)
    proc = subprocess.run(
        [sys.executable, str(script)], env=env, cwd=tmp_path,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "CLASSIC-OK" in proc.stdout
