"""Outside-in Spark counters for tagged operator calls.

Every operator call the benchmark makes runs under its own
``SparkSession.addTag`` tag.  :meth:`SparkCounters.collect` then reads
the application status store (jobs, stages, task and GC time, shuffle
write, driver-collect bytes) and, if asked, the SQL status store
(Python-worker run time), and sums them per tag.  Nothing here imports
or patches ``bloomjoin_spark``: the numbers are what any Spark
application can read about the calls it made.

The stores are read as JSON, serialized on the JVM side with the same
Jackson mapper Spark's REST API uses, so a read costs a few py4j calls
however many jobs the run made.
"""

from __future__ import annotations

import json
import re
from contextlib import contextmanager

#: SQL metric that carries the Python workers' run time (PythonSQLMetrics)
PYTHON_TIME_METRIC = "time to run Python workers"

FIELDS = ("jobs", "stages", "task_s", "gc_s", "shuffle_write_mb", "result_mb",
          "python_s")

_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TIMING = re.compile(r"\n\s*([0-9.]+)\s*(ms|s|m|h)\b")


def parse_timing_metric(text: str | None) -> float:
    """Seconds from a formatted SQL timing metric, as the SQL status
    store renders it: ``'total (min, med, max ...)\\n4.9 s (231 ms, ...)'``."""
    if not text:
        return 0.0
    m = _TIMING.search(text)
    return float(m.group(1)) * _UNIT_S[m.group(2)] if m else 0.0


class SparkCounters:
    """Tag-scoped counters for a Spark session (tags must not contain ``-``)."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        jvm = sc._jvm
        self._gw = sc._gateway
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = jvm.java.lang.Class.forName(
            "com.fasterxml.jackson.module.scala.DefaultScalaModule$")
        self._mapper.registerModule(scala_module.getField("MODULE$").get(None))

    @contextmanager
    def tagged(self, tag: str):
        """Run the body with ``tag`` on every job it starts."""
        if "-" in tag:
            raise ValueError(f"tag {tag!r} must not contain '-'")
        self.spark.addTag(tag)
        try:
            yield
        finally:
            self.spark.removeTag(tag)

    def _json(self, scala_obj):
        return json.loads(self._mapper.writeValueAsString(scala_obj))

    def collect(self, tags, with_python: bool = True) -> dict[str, dict]:
        """``{tag: {counter: value}}`` over every job recorded so far."""
        self._jsc.listenerBus().waitUntilEmpty()
        tags = set(tags)
        out = {t: dict.fromkeys(FIELDS, 0.0) for t in tags}
        gw = self._gw
        stages = {}
        for st in self._json(self._store.stageList(
                None, False, False, gw.new_array(gw.jvm.double, 0), None)):
            if st["status"] == "COMPLETE":
                stages[st["stageId"]] = st
        job_tag: dict[int, str] = {}
        for job in self._json(self._store.jobsList(None)):
            tag = next((t for t in (jt.rsplit("-", 1)[-1] for jt in job["jobTags"])
                        if t in tags), None)
            if tag is None:
                continue
            job_tag[job["jobId"]] = tag
            c = out[tag]
            c["jobs"] += 1
            result_stage = max(job["stageIds"], default=None)
            for sid in job["stageIds"]:
                st = stages.get(sid)
                if st is None:  # skipped: its shuffle output was reused
                    continue
                c["stages"] += 1
                c["task_s"] += st["executorRunTime"] / 1e3
                c["gc_s"] += st["jvmGcTime"] / 1e3
                c["shuffle_write_mb"] += st["shuffleWriteBytes"] / 1e6
                if sid == result_stage:
                    c["result_mb"] += st["resultSize"] / 1e6
        if with_python:
            for tag, secs in self._python_seconds(job_tag).items():
                out[tag]["python_s"] += secs
        return out

    def _python_seconds(self, job_tag: dict[int, str]) -> dict[str, float]:
        """Python-worker run time per tag, from the SQL executions whose
        jobs carry it."""
        out: dict[str, float] = {}
        for ex in self._json(self._sql.executionsList()):
            tag = next((job_tag[int(j)] for j in ex["jobs"] if int(j) in job_tag), None)
            if tag is None:
                continue
            values = ex.get("metricValues") or {}
            accs = {m["accumulatorId"] for m in ex["metrics"]
                    if m["name"] == PYTHON_TIME_METRIC}
            out[tag] = out.get(tag, 0.0) + sum(
                parse_timing_metric(values.get(str(a))) for a in accs)
        return out
