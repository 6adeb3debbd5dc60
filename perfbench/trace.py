"""Layer spans for the traced run, recorded from outside the engine.

Each `layer(name)` span tags every Spark job it starts with the job
group `layer:<name>`, so the event log attributes jobs, CPU and shuffle
to the layer. `boundary(df)` persists a layer's output, forces its
physical plan (recording the planning phases from
`queryExecution().tracker()`) and counts it, so the layer's work runs
inside its own span instead of inside whichever later action first
needs it.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

PLAN_PHASES = ("analysis", "optimization", "planning")


def group_of(layer: str) -> str:
    return f"layer:{layer}"


class Tracer:
    def __init__(self, spark: SparkSession):
        self._sc = spark.sparkContext
        self.span_s: dict[str, float] = defaultdict(float)
        self.counts: dict[str, float] = {}
        self.plan_ms: dict[str, float] = dict.fromkeys(PLAN_PHASES, 0.0)

    @contextmanager
    def layer(self, name: str):
        """Time a span; spans of one name accumulate."""
        self._sc.setJobGroup(group_of(name), name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.span_s[name] += time.perf_counter() - t0
            self._sc.setJobGroup("", "")

    def boundary(self, df: DataFrame) -> tuple[DataFrame, int]:
        """Persist df, record its planning phases, and count it."""
        df = df.persist()
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in self.plan_ms:
                self.plan_ms[kv._1()] += kv._2().durationMs()
        return df, df.count()
