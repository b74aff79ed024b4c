"""Does ``DataFrame.unpersist()`` free a ``localCheckpoint``'s blocks?

Prints the cached-RDD storage (RDD id, cached partitions, bytes) from
``SparkContext.getRDDStorageInfo`` after each step: a localCheckpoint,
``unpersist()``, ``unpersist(blocking=True)``, dropping the Python
reference plus a JVM GC, and then one more job; a ``persist()``ed frame
is the control. Run from the repository root:

    python3 plans/r18/checkpoint_unpersist.py
"""
import gc
import os
import sys
import time

sys.path.insert(0, os.getcwd())
from mapreduce_rust_spark.session import get_spark  # noqa: E402

spark = get_spark("checkpoint-unpersist")
sc = spark.sparkContext


def storage():
    return [(i.id(), i.numCachedPartitions(), i.memSize() + i.diskSize())
            for i in sc._jsc.sc().getRDDStorageInfo()]


ck = (spark.range(100000).selectExpr("id", "id * 2 AS y")
      .repartition(4).localCheckpoint(eager=True))
print("after localCheckpoint(eager=True):", storage())
ck.unpersist()
time.sleep(3)
print("after unpersist() + 3 s:          ", storage())
ck.unpersist(blocking=True)
print("after unpersist(blocking=True):   ", storage())
del ck
gc.collect()
sc._jvm.System.gc()
time.sleep(3)
print("after del + JVM GC + 3 s:         ", storage())
p = spark.range(100000).repartition(4).persist()
p.count()
print("after a persist() job (control):  ", storage())
p.unpersist(blocking=True)
print("after control unpersist:          ", storage())
spark.stop()
