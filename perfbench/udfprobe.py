"""Arrow-UDF boundary cost against kernel cost, in core-seconds.

The pass evaluates one UDF alone in a projection over the workload's own
rows (cached beforehand) and is measured as CPU of the whole process tree:
JVM, Arrow transfer both ways, and the Python workers. The kernel runs the
same UDF body on the same rows directly in this process. The difference is
what crossing the JVM/Python boundary costs.
"""

from __future__ import annotations

import time

from perfbench.procstat import tree_cpu_s


def probe(spark, tracer, inp, p) -> tuple[float, float]:
    from warc2zim_spark.functions import udfs

    udf = getattr(udfs, p.udf_name)
    rows = spark.read.parquet(str(inp / p.table)).select(*p.columns).cache()
    rows.count()
    with tracer.span(f"udfs.{p.udf_name}"):
        cpu0 = tree_cpu_s()
        rows.select(udf(*p.columns).alias("out")).write.format("noop").mode(
            "overwrite").save()
        pass_cpu = tree_cpu_s() - cpu0
    frame = rows.toPandas()
    rows.unpersist()
    c0 = time.process_time()
    udf.func(*(frame[c] for c in p.columns))
    return pass_cpu, time.process_time() - c0
