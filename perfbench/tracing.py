"""Per-layer tracing for ``--trace 1`` runs.

Everything is collected from outside the program:

- around public calls: wall time of the outermost call into each module
  family, artifact builds in ``sift_spark.queries``, and the Py4J
  commands sent while a query is being constructed;
- from ``queryExecution().tracker()``: Catalyst phase times;
- from the Spark event log (uncompressed, one file): jobs, stages,
  tasks and task metrics, attributed to pass, query and phase by job
  group;
- from the UDF profiler (``spark.sql.pyspark.udf.profiler=perf``):
  time spent inside Python UDFs.

Spans (pass -> query -> construct/execute -> Spark job) are kept in
memory and written as JSON lines when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import inspect
import json
import os
import statistics
import sys
import time
from collections import defaultdict

FAMILIES = (
    "corpora.synthetic", "models.links", "models.text",
    "operators.relational", "operators.events", "operators.dedup",
    "operators.similarity",
)
ARTIFACT_GETTERS = ("_docs_tokenized", "_docs_shingles", "_docs_tf",
                    "_docs_bands", "_docs_pairs", "_served_index")
ARTIFACT_CACHES = ("_TOKENS_CACHE", "_SHINGLE_CACHE", "_TF_CACHE",
                   "_BANDS_CACHE", "_PAIRS_CACHE", "_SERVING_INDEX_CACHE")
PIPELINE_STAGES = ("raw", "eval_set", "train", "filtered", "deduped",
                   "decontaminated", "mixed", "packed", "export")

# every per-layer metric a traced run reports, with its unit
LAYER_UNITS = {
    "session.start_s": "s",
    "artifacts.build_s": "s",
    "artifacts.cached_bytes": "bytes",
    "caching.local_persists": "count",
    "driver.construct_s": "s",
    "driver.construct_jobs": "count",
    "driver.py4j_calls": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.peak_mem_bytes": "bytes",
    "exec.output_bytes": "bytes",
    "python.udf_s": "s",
    **{f"{fam}_s": "s" for fam in FAMILIES},
    "pipeline.construct_s": "s",
    "pipeline.export_s": "s",
    **{f"pipeline.rows.{s}": "rows" for s in PIPELINE_STAGES},
    "jvm.peak_rss_mb": "MB",
    "trace.pass_s": "s",
}


def group_of(pass_idx: int, query: str, phase: str) -> str:
    """Job group of one phase ("c" construct, "x" execute) of a query."""
    return f"p{pass_idx}:{query}:{phase}"


def parse_group(group: str | None):
    if not group or not group.startswith("p") or group.count(":") != 2:
        return None
    p, q, ph = group.split(":")
    return int(p[1:]), q, ph


class Tracer:
    def __init__(self, run_dir: str, spans_path: str, run_id: str):
        self.log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(self.log_dir, exist_ok=True)
        self.spans_path = spans_path
        self.run_id = run_id
        self.spans: list[dict] = []
        self._next_id = 0
        self.acc: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.pass_idx = 0
        self.py4j = 0
        self._depth: dict[str, int] = defaultdict(int)
        self._udf_seen = 0.0
        self._group_span: dict[str, int] = {}
        self._construct_wall: dict[str, float] = {}
        self.fixed: dict[str, float] = {}

    # --- session --------------------------------------------------------
    def conf(self) -> dict[str, str]:
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(self.log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.sql.pyspark.udf.profiler": "perf",
        }

    def install(self, spark) -> None:
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*a, **k):
            self.py4j += 1
            return send(*a, **k)

        client.send_command = counted
        self._wrap_families()
        self._wrap_artifacts()

    def _timed(self, key: str, fn, only_if=None):
        @functools.wraps(fn)
        def wrapper(*a, **k):
            if self._depth[key]:
                return fn(*a, **k)
            before = only_if() if only_if else None
            self._depth[key] += 1
            t = time.perf_counter()
            try:
                return fn(*a, **k)
            finally:
                self._depth[key] -= 1
                if only_if is None or only_if() != before:
                    self.acc[self.pass_idx][key] += time.perf_counter() - t
        return wrapper

    def _wrap_families(self) -> None:
        wrapped = {}
        for fam in FAMILIES:
            mod = importlib.import_module("sift_spark." + fam)
            for name, obj in list(vars(mod).items()):
                if (name.startswith("_") or not inspect.isfunction(obj)
                        or obj.__module__ != mod.__name__):
                    continue
                wrapped[obj] = self._timed(f"{fam}_s", obj)
                setattr(mod, name, wrapped[obj])
        # rebind names other modules imported with ``from ... import``
        for mname, mod in list(sys.modules.items()):
            if not mname.startswith("sift_spark") or mod is None:
                continue
            for name, obj in list(vars(mod).items()):
                if inspect.isfunction(obj) and obj in wrapped:
                    setattr(mod, name, wrapped[obj])

    def _wrap_artifacts(self) -> None:
        q = importlib.import_module("sift_spark.queries")

        def n_cached():
            return sum(len(getattr(q, c)) for c in ARTIFACT_CACHES)

        for name in ARTIFACT_GETTERS:
            setattr(q, name, self._timed("artifacts.build_s", getattr(q, name), n_cached))

    # --- spans ----------------------------------------------------------
    def span(self, name, start, end, parent=None, **attrs) -> int:
        self._next_id += 1
        self.spans.append({"trace": self.run_id, "span": self._next_id,
                           "parent": parent, "name": name, "start": start,
                           "end": end, "attrs": attrs})
        return self._next_id

    def begin_pass(self, idx: int) -> None:
        self.pass_idx = idx

    def record_query(self, pass_span, idx, query, t0, t1, t2) -> None:
        """Spans for one query; ``t0..t1`` construction, ``t1..t2``
        execution (epoch seconds)."""
        q = self.span("query", t0, t2, pass_span, query=query, pass_idx=idx)
        for phase, a, b in (("c", t0, t1), ("x", t1, t2)):
            g = group_of(idx, query, phase)
            self._group_span[g] = self.span(
                "construct" if phase == "c" else "execute", a, b, q, group=g)
        self._construct_wall[group_of(idx, query, "c")] = t1 - t0

    @contextlib.contextmanager
    def construct_calls(self):
        """Counts the Py4J commands sent inside the block."""
        n0 = self.py4j
        try:
            yield
        finally:
            self.acc[self.pass_idx]["driver.py4j_calls"] += self.py4j - n0

    def catalyst(self, df) -> None:
        """Force planning of ``df`` and add its tracker phase times."""
        try:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            for ph in ("analysis", "optimization", "planning"):
                o = phases.get(ph)
                if o.isDefined():
                    self.acc[self.pass_idx][f"catalyst.{ph}_s"] += o.get().durationMs() / 1000.0
        except Exception as e:  # private API: record nothing rather than fail the run
            print(f"perfbench: catalyst tracker unavailable: {e}", file=sys.stderr)

    def add(self, key: str, value: float) -> None:
        self.acc[self.pass_idx][key] += value

    def end_pass(self, spark) -> None:
        try:
            res = spark._profiler_collector._perf_profile_results
            total = sum(st.total_tt for st in res.values())
        except Exception:
            total = self._udf_seen
        self.acc[self.pass_idx]["python.udf_s"] += total - self._udf_seen
        self._udf_seen = total

    @staticmethod
    def storage_bytes(spark) -> int:
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)

    def jvm_peak_rss(self, spark) -> None:
        pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        self.fixed["jvm.peak_rss_mb"] = int(line.split()[1]) / 1024.0
        except OSError:
            self.fixed["jvm.peak_rss_mb"] = float("nan")

    # --- after the session stopped ----------------------------------------
    def _event_log(self):
        files = glob.glob(os.path.join(self.log_dir, "*"))
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {self.log_dir}, found {files}")
        with open(files[0]) as fh:
            for line in fh:
                yield json.loads(line)

    def collect_event_log(self) -> None:
        job_group, job_span, stage_job = {}, {}, {}
        jobs: dict[int, dict] = {}
        for ev in self._event_log():
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                job_group[jid] = parse_group(props.get("spark.jobGroup.id"))
                jobs[jid] = {"start": ev["Submission Time"] / 1000.0,
                             "group": props.get("spark.jobGroup.id")}
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                g = job_group.get(stage_job.get(sid))
                if g:
                    self.acc[g[0]]["spark.stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = job_group.get(stage_job.get(ev.get("Stage ID")))
                m = ev.get("Task Metrics")
                if not g or not m:
                    continue
                a = self.acc[g[0]]
                a["spark.tasks"] += 1
                a["exec.run_s"] += m.get("Executor Run Time", 0) / 1000.0
                a["exec.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                a["exec.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                a["exec.input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                a["exec.output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics", {})
                a["exec.shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                 + sr.get("Local Bytes Read", 0))
                a["exec.shuffle_write_bytes"] += (m.get("Shuffle Write Metrics", {})
                                                  .get("Shuffle Bytes Written", 0))
                a["exec.spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                          + m.get("Disk Bytes Spilled", 0))
                a["exec.peak_mem_bytes"] = max(a["exec.peak_mem_bytes"],
                                               m.get("Peak Execution Memory", 0))
        construct_jobs_s: dict[str, float] = defaultdict(float)
        for jid, j in sorted(jobs.items()):
            g = job_group.get(jid)
            end = j.get("end", j["start"])
            self.span("job", j["start"], end, self._group_span.get(j["group"]),
                      job_id=jid, group=j["group"])
            if not g:
                continue
            self.acc[g[0]]["spark.jobs"] += 1
            if g[2] == "c":
                self.acc[g[0]]["driver.construct_jobs"] += 1
                construct_jobs_s[j["group"]] += end - j["start"]
        for grp, wall in self._construct_wall.items():
            p = parse_group(grp)[0]
            self.acc[p]["driver.construct_s"] += wall - construct_jobs_s.get(grp, 0.0)

    def metrics(self, steady_passes: list[int]) -> dict[str, float]:
        """Per-layer metrics: the median over the steady passes of each
        per-pass total, plus the run-level figures in ``fixed``."""
        out = {}
        for key in LAYER_UNITS:
            if key in self.fixed:
                out[key] = self.fixed[key]
            else:
                out[key] = statistics.median(self.acc[p].get(key, 0.0) for p in steady_passes)
        return out

    def write_spans(self, summary: dict) -> None:
        os.makedirs(os.path.dirname(self.spans_path), exist_ok=True)
        with open(self.spans_path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
            fh.write(json.dumps({"trace": self.run_id, "summary": summary}) + "\n")
