"""Record the event-log fixture used by ``test_eventlog.py``.

    python3 -m perfbench.tests.record_eventlog

Runs one two-job query (a pandas UDF feeding a grouped count, written
to the ``noop`` sink under job group ``q/action``) with Spark's event
log on, then keeps only the events the parser reads, with the bulky
plan text removed.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "data", "eventlog_2job.jsonl")
_KEEP = ("SparkListenerJobStart", "SparkListenerStageCompleted",
         "SQLExecutionStart", "SQLAdaptiveExecutionUpdate")


def shrink(src: str, dst: str) -> None:
    with open(src) as f, open(dst, "w") as out:
        for line in f:
            ev = json.loads(line)
            if not ev["Event"].endswith(_KEEP):
                continue
            if ev["Event"] == "SparkListenerJobStart":
                ev["Properties"] = {k: v for k, v in ev.get("Properties", {}).items()
                                    if k.startswith("spark.jobGroup")}
                ev.pop("Stage Infos", None)
            for key in ("physicalPlanDescription", "details", "modifiedConfigs"):
                ev.pop(key, None)
            out.write(json.dumps(ev) + "\n")


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
    from pyspark.sql import functions as F

    from etl_xlsx_potgres_spark.session import get_spark

    log_dir = tempfile.mkdtemp()
    spark = get_spark(extra_conf={
        "spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false",
    })
    spark.sparkContext.setJobGroup("q/action", "two-job query")

    @F.pandas_udf("long")
    def plus1(s):
        return s + 1

    (spark.range(0, 20000, numPartitions=4).select(plus1("id").alias("v"))
     .groupBy((F.col("v") % 7).alias("k")).count()
     .write.format("noop").mode("overwrite").save())
    spark.stop()
    shrink(glob.glob(os.path.join(log_dir, "*"))[0], FIXTURE)


if __name__ == "__main__":
    main()
