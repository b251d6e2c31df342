"""One benchmark run: set-up, a closed loop of passes, checks, metrics.

A run is one fresh ``local[nproc]`` session driven by one client. The
first pass is the cold pass; steady passes follow until ``seconds`` of
steady time have elapsed (and at least the workload's ``steady_passes``),
always finishing the pass in progress. Every pass starts from the same
state: between passes the builder-local caches and the corpus artifacts
are released and both heaps are collected.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback

import inputs
from checks import (
    check_shards,
    compare_digests,
    result_digest,
    shard_bytes,
    shard_manifest,
)
from tracing import PIPELINE_STAGES, Tracer, group_of
from workloads import FIRST_PASS_ONLY_JOBS, WORKLOADS

SETUP_REPS = 3  # input preparations per run; setup_s uses their median


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def quantile(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def tally(executions: list[tuple[str, bool]], bad: set[str]) -> tuple[int, int]:
    """(attempted, failed) over query executions. An execution fails if
    it raised, or if its query's checked output was wrong: outputs are
    deterministic, so a wrong result is wrong in every pass."""
    failed = sum(1 for name, ok in executions if not ok or name in bad)
    return len(executions), failed


def job_count_problems(jobs: list[dict[str, int]]) -> list[str]:
    """Each query must launch the same number of jobs in every pass
    (every pass starts from the same state); queries served from the
    session-lived ANN index cache are exempt on the first pass only."""
    problems = []
    for name in jobs[0]:
        counts = [p[name] for p in jobs]
        steady = set(counts[1:]) or {counts[0]}
        if len(steady) > 1:
            problems.append(f"{name}: job counts vary across steady passes: {counts}")
        elif name not in FIRST_PASS_ONLY_JOBS and counts[0] not in steady:
            problems.append(f"{name}: cold pass ran {counts[0]} jobs, steady passes {counts[1]}")
    return problems


class Run:
    def __init__(self, args, root: str, run_dir: str, work_dir: str):
        self.args = args
        self.root = root
        self.wl = WORKLOADS[args.workload]
        self.data_dir = os.path.join(run_dir, "data")
        self.out_dir = os.path.join(run_dir, "shards")
        self.work_dir = work_dir
        self.tracer = None
        if args.trace:
            tag = f"{args.workload}-s{args.seed}"
            self.tracer = Tracer(run_dir, os.path.join(work_dir, "traces", f"{tag}.spans.jsonl"),
                                 f"{tag}-{os.getpid()}")
        self.n_docs = 0

    # --- set-up -----------------------------------------------------------
    def generate(self) -> None:
        """The seed-independent source tables (what a deployment would
        already hold); not part of set-up time."""
        tables = inputs.base_tables(self.wl["tables"], self.args.scale)
        k = self.wl.get("replicas")
        if k:
            tables["documents"] = inputs.replicate_documents(self.root, tables["documents"], k)
        self.n_docs = tables["documents"].num_rows
        self.tables = tables

    def prepare_inputs(self) -> None:
        """Copy the source tables into the run's data directory in
        seed order and register them with the session."""
        shutil.rmtree(self.data_dir, ignore_errors=True)
        tables = self.tables
        inputs.write_permuted(tables, self.data_dir, self.args.seed)
        # register the inputs with the session (sift_spark.io keeps the
        # analyzed relation, like a catalog): schema inference runs
        # here, not inside the first query that reads each table
        from sift_spark.io import table

        for name in tables:
            table(self.spark, self.data_dir, name)

    def setup(self) -> dict[str, float]:
        self.generate()
        t0 = time.perf_counter()
        from sift_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(os.path.dirname(self.data_dir), "warehouse"),
            # the JVM's temporary files (native-library copies, artifact
            # dirs) go under the run directory too, and no perf-data file
            # is left in the system temp dir
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        }
        if self.tracer:
            conf.update(self.tracer.conf())
        self.spark = get_spark("perfbench", extra_conf=conf)
        session_s = time.perf_counter() - t0
        preps = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            self.prepare_inputs()
            preps.append(time.perf_counter() - t)
        if self.tracer:
            self.tracer.install(self.spark)
        return {"session_s": session_s, "setup_s": session_s + statistics.median(preps)}

    # --- passes -------------------------------------------------------------
    def _timed(self, idx: int, name: str, construct, execute):
        """Run one operation; returns (construct_s, total_s, ok, handle)."""
        sc, tr = self.spark.sparkContext, self.tracer
        w0 = time.time()
        t0 = time.perf_counter()
        handle, ok = None, True
        t1 = t0
        try:
            sc.setJobGroup(group_of(idx, name, "c"), name)
            if tr:
                with tr.construct_calls():
                    handle = construct()
            else:
                handle = construct()
            t1 = time.perf_counter()
            sc.setJobGroup(group_of(idx, name, "x"), name)
            if tr:
                tr.catalyst(handle if not isinstance(handle, dict) else handle["export"])
            execute(handle)
        except Exception:
            ok = False
            log(f"pass {idx} {name} failed:\n{traceback.format_exc()}")
        t2 = time.perf_counter()
        if tr:
            tr.record_query(self._pass_span, idx, name, w0, w0 + (t1 - t0), w0 + (t2 - t0))
        return t1 - t0, t2 - t0, ok, handle

    def run_pass(self, idx: int) -> dict:
        from sift_spark.queries import QUERIES

        w0, t0 = time.time(), time.perf_counter()
        if self.tracer:
            self.tracer.begin_pass(idx)
            self._pass_span = self.tracer.span("pass", w0, None, None, pass_idx=idx)
        rec = {"lat": {}, "ok": {}, "jobs": {}, "handles": {}}
        tracker = self.spark.sparkContext.statusTracker()
        for name in self.wl["queries"]:
            if name == "llm_training_pipeline":
                c, total, ok, h = self._pipeline(idx)
            else:
                c, total, ok, h = self._timed(
                    idx, name, lambda n=name: QUERIES[n](self.spark, self.data_dir),
                    lambda df: df.write.format("noop").mode("overwrite").save())
            rec["lat"][name], rec["ok"][name], rec["handles"][name] = total, ok, h
            rec["jobs"][name] = sum(len(tracker.getJobIdsForGroup(group_of(idx, name, ph)))
                                    for ph in "cx")
        rec["pass_s"] = time.perf_counter() - t0
        if self.tracer:
            self.tracer.end_pass(self.spark)
            self.tracer.spans[self._pass_span - 1]["end"] = w0 + rec["pass_s"]
        return rec

    def _pipeline(self, idx: int):
        from sift_spark.pipeline import llm_training_pipeline, write_pipeline_shards

        n = self.n_docs
        out = os.path.join(self.out_dir, f"pass{idx}")
        res = self._timed(
            idx, "llm_training_pipeline",
            lambda: llm_training_pipeline(
                self.spark, self.data_dir, temp_budget=int(n * 0.4),
                eval_fraction=self.eval_fraction(), persist_boundaries=True),
            lambda st: write_pipeline_shards(st, out))
        if self.tracer:
            self.tracer.add("pipeline.construct_s", res[0])
            self.tracer.add("pipeline.export_s", res[1] - res[0])
        return res

    def eval_fraction(self) -> float:
        # a fixed-size (~200 doc) eval slice, as scripts/pipeline_run.py uses
        return min(0.02, 200.0 / max(self.n_docs, 1))

    def release(self, rec: dict) -> None:
        from sift_spark.caching import release_local_caches
        from sift_spark.queries import corpus_artifacts

        local_persists = release_local_caches()
        if self.tracer:
            # what stays cached once the builder-local caches are gone
            # is the corpus artifacts
            self.tracer.add("caching.local_persists", local_persists)
            self.tracer.add("artifacts.cached_bytes", self.settle())
        corpus_artifacts(self.spark, self.data_dir).release()
        rec["handles"] = {}
        self.settle()

    def settle(self, timeout: float = 2.0) -> int:
        """Bring the session to the same state before every pass: wait
        until the (asynchronous) unpersists have landed, then collect
        garbage in the JVM and in Python, so no cleanup or heap-growth
        pause from one pass lands in the next. Returns the bytes still
        cached."""
        import gc

        last, deadline = Tracer.storage_bytes(self.spark), time.monotonic() + timeout
        while time.monotonic() < deadline:
            time.sleep(0.05)
            now = Tracer.storage_bytes(self.spark)
            if now == last:
                break
            last = now
        self.spark.sparkContext._jvm.java.lang.System.gc()
        gc.collect()
        return last

    # --- checks -------------------------------------------------------------
    def collect_results(self, rec: dict) -> dict:
        """Spark-side results of the last pass, pulled before its caches
        are released (the check re-reads them instead of recomputing)."""
        self.spark.sparkContext.setJobGroup("check", "check")
        out = {}
        for name, df in rec["handles"].items():
            if df is None:
                continue
            try:
                out[name] = df.toPandas()
            except Exception:
                log(f"collecting {name} failed:\n{traceback.format_exc()}")
        return out

    def check_queries(self, results: dict) -> tuple[set[str], dict]:
        from sift_spark.oracle import ORACLE
        from tests.parity import duck_con

        con = duck_con(self.data_dir)
        bad, digest = set(), {}
        for name in self.wl["queries"]:
            if name not in results:
                bad.add(name)
                continue
            mine = result_digest(results[name])
            problems = compare_digests(mine, result_digest(con.sql(ORACLE[name]).fetchdf()))
            if problems:
                bad.add(name)
                log(f"{name}: {'; '.join(problems)}")
            digest[name] = mine[2]
        return bad, digest

    # --- the run ------------------------------------------------------------
    def run(self) -> dict:
        a = self.args
        setup = self.setup()
        pipeline = self.wl["queries"] == ("llm_training_pipeline",)
        self.settle()
        passes = [self.run_pass(0)]
        manifests = []
        if pipeline:
            manifests.append(shard_manifest(os.path.join(self.out_dir, "pass0")))
        self.release(passes[0])
        t_steady = time.perf_counter()
        while True:
            rec = self.run_pass(len(passes))
            passes.append(rec)
            last = (len(passes) > self.wl["steady_passes"]
                    and time.perf_counter() - t_steady >= a.seconds)
            if pipeline:
                prev = os.path.join(self.out_dir, f"pass{len(passes) - 2}")
                manifests.append(shard_manifest(os.path.join(self.out_dir, f"pass{len(passes) - 1}")))
                shutil.rmtree(prev, ignore_errors=True)
            if last:
                break
            self.release(rec)
        t_timed = time.perf_counter()
        results = {} if pipeline else self.collect_results(rec)
        stages = rec["handles"].get("llm_training_pipeline")
        if self.tracer and stages is not None:
            self.funnel(stages)
        if self.tracer:
            self.tracer.jvm_peak_rss(self.spark)
        self.release(rec)
        self.spark.stop()

        correct = True
        problems = job_count_problems([p["jobs"] for p in passes])
        for p in problems:
            log(p)
            correct = False
        if pipeline:
            bad, digest, out_bytes = self.check_pipeline(passes, manifests)
        else:
            bad, digest = self.check_queries(results)
            out_bytes = self.result_bytes(results)
        self.write_digest(digest)
        t_checked = time.perf_counter()
        executions = [(n, p["ok"][n]) for p in passes for n in self.wl["queries"]]
        attempted, failed = tally(executions, bad)

        steady = passes[1:]
        # the mean, not the median: steady passes are a warm-up trend,
        # not independent samples, and the middle pass's place on that
        # trend varies from run to run (median spread 13% vs mean 7%)
        pass_s = statistics.fmean(p["pass_s"] for p in steady)
        if a.trace:
            metrics = self.layer_metrics(setup, pass_s, list(range(1, len(passes))))
        else:
            lat = [p["lat"][n] for p in steady for n in self.wl["queries"]]
            metrics = {
                "setup_s": (setup["setup_s"], "s"),
                "cold_pass_s": (passes[0]["pass_s"], "s"),
                "pass_s": (pass_s, "s"),
                "query_p50_s": (quantile(lat, 0.5), "s"),
                "query_p90_s": (quantile(lat, 0.9), "s"),
                "shard_bytes": (out_bytes, "bytes"),
            }
            self.remember({"pass_s": pass_s})
        log(f"{a.workload} seed {a.seed}: {len(steady)} steady passes, "
            f"pass times {[round(p['pass_s'], 3) for p in passes]}, "
            f"jobs/pass {sum(passes[-1]['jobs'].values())}, "
            f"checks {t_checked - t_timed:.1f} s")
        for name in self.wl["queries"]:
            log(f"  {name}: " + " ".join(f"{p['lat'][name]:.2f}s/{p['jobs'][name]}j" for p in passes))
        return {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    # --- training pipeline ----------------------------------------------------
    def check_pipeline(self, passes, manifests):
        from sift_spark.pipeline import DEFAULTS

        last = os.path.join(self.out_dir, f"pass{len(passes) - 1}")
        problems = check_shards(
            last, self.data_dir, max_tokens=DEFAULTS["max_tokens"],
            eval_ppm=max(1, round(self.eval_fraction() * 1_000_000)),
            min_quality=DEFAULTS["min_quality"])
        if any(m != manifests[0] for m in manifests):
            problems.append("shard manifest differs between passes")
        for p in problems:
            log(f"llm_training_pipeline: {p}")
        bad = {"llm_training_pipeline"} if problems else set()
        return bad, {"manifest": manifests[-1]}, shard_bytes(last)

    def funnel(self, stages: dict) -> None:
        self.spark.sparkContext.setJobGroup("funnel", "funnel")
        for s in PIPELINE_STAGES:
            self.tracer.fixed[f"pipeline.rows.{s}"] = stages[s].count()

    # --- outputs ----------------------------------------------------------------
    @staticmethod
    def result_bytes(results: dict) -> int:
        """Arrow bytes of the checked results (independent of row order)."""
        import pyarrow as pa

        return sum(pa.Table.from_pandas(pdf, preserve_index=False).nbytes
                   for pdf in results.values())

    def write_digest(self, digest: dict) -> None:
        d = os.path.join(self.work_dir, "digests")
        os.makedirs(d, exist_ok=True)
        name = f"{self.args.workload}-sf{self.args.scale:g}-s{self.args.seed}.json"
        with open(os.path.join(d, name), "w") as fh:
            json.dump(digest, fh, indent=1, sort_keys=True)

    def remember(self, timed: dict) -> None:
        d = os.path.join(self.work_dir, "last")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"{self.args.workload}.json"), "w") as fh:
            json.dump(timed, fh)

    def layer_metrics(self, setup: dict, pass_s: float, steady: list[int]) -> dict:
        tr = self.tracer
        tr.fixed["session.start_s"] = setup["session_s"]
        tr.fixed["trace.pass_s"] = pass_s
        for s in PIPELINE_STAGES:
            tr.fixed.setdefault(f"pipeline.rows.{s}", 0)
        tr.collect_event_log()
        from tracing import LAYER_UNITS

        values = tr.metrics(steady)
        summary = {"layers": values}
        try:
            with open(os.path.join(self.work_dir, "last", f"{self.args.workload}.json")) as fh:
                timed = json.load(fh)["pass_s"]
            summary["overhead_vs_timed_pass"] = pass_s / timed - 1.0
            log(f"tracing overhead: traced pass {pass_s:.3f} s vs timed pass "
                f"{timed:.3f} s ({100 * (pass_s / timed - 1):+.1f}%)")
        except (OSError, KeyError, ValueError):
            log("tracing overhead: no timed run of this workload in this checkout yet")
        tr.write_spans(summary)
        log(f"spans written to {tr.spans_path}")
        return {k: (v, LAYER_UNITS[k]) for k, v in values.items()}
