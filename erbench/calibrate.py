"""Host-speed probe: a fixed Spark job that calls no code of the program.

The speed of a shared 4-core host drifts by 20-50% over minutes, which is
more than the benchmark's bounds. Every Spark stage of the program slows
with it, and so does this probe: a pandas UDF, a hash, a shuffle, a
parquet write and a read-back, the kinds of work the program does. At
this size its time is mostly per-job and per-task overhead, as is most of
the program's.
A run times the probe right after its timed passes and scales its times
by ``REFERENCE_S / probe``, so that they read as seconds on a host where
the probe takes ``REFERENCE_S``.

The probe runs in its own session with pinned SQL settings, so a change
to the program's session settings does not change it.
"""

import statistics
import time

#: about the probe's median time on the 4-core host the bounds were set on
REFERENCE_S = 1.0
ROWS = 50_000
REPEATS = 5
SQL_CONF = {
    "spark.sql.shuffle.partitions": "4",
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def _once(session, out_dir: str) -> float:
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    # nested, so that it is pickled by value; the workers cannot import
    # this module
    @pandas_udf("long")
    def mix(x: pd.Series) -> pd.Series:
        return (x * 2654435761) % 1000003

    t0 = time.perf_counter()
    df = session.range(0, ROWS, numPartitions=4).withColumn("k", mix(F.col("id")) % 5000)
    df = df.withColumn("h", F.sha1(F.col("id").cast("string")))
    df.groupBy("k").agg(F.count("*").alias("n"), F.max("h").alias("h")).write.mode("overwrite").parquet(out_dir)
    rows = session.read.parquet(out_dir).agg(F.sum("n")).collect()[0][0]
    dt = time.perf_counter() - t0
    if rows != ROWS:
        raise RuntimeError(f"host probe counted {rows} rows, not {ROWS}")
    return dt


def probe_s(spark, work: str) -> float:
    """Median time of the probe job over ``REPEATS`` runs, after one untimed
    run that compiles its plans."""
    session = spark.newSession()
    for k, v in SQL_CONF.items():
        session.conf.set(k, v)
    _once(session, f"{work}/probe_warmup")
    return statistics.median(_once(session, f"{work}/probe{i}") for i in range(REPEATS))
