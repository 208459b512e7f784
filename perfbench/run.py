"""Extraction benchmark: `plans.pipeline.extract_pages` and `run_job` on
local[nproc], one job at a time (a closed loop of one driver).

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12 --trace 1

Run from the root of a checkout. A run renders the workload's corpus from
the seed and sets up: corpus rendering, sink pre-seeding, session start,
one cold pass and the workload's warm passes, all untimed and together
setup_s. Then:

- with --trace 0, runs the job back to back for --seconds and reports the
  end-to-end metrics, each the median over the timed passes;
- with --trace 1, runs the plan ladder (ladder.py) and then traced passes
  (tracer.py) and reports the per-layer metrics and the layer table.

Every pass is checked against the expected text of every (url, img_idx)
row. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
The exit code is 1 if any check failed, 2 on a usage or setup error.
All files go under .perfbench_work/ in the checkout and are removed after
the run.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

UNITS = {
    "docs_per_s": "1/s",
    "cpu_s_per_kdoc": "s",
    "text_match_rate": "ratio",
    "ok_share": "ratio",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

now = time.perf_counter

def cores() -> int:
    return len(os.sched_getaffinity(0))


def quartiles(values: list[float]) -> tuple[float, float]:
    if len(values) == 1:
        return values[0], values[0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q1, q3


def start_session(work: str, trace: bool):
    from pyspark.sql import SparkSession

    n = cores()
    tmp = os.path.join(work, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        # a fixed, pre-touched heap: the tree's RSS then does not wander
        # with the heap's growth between collections
        .config("spark.driver.memory", "1g")
        .config("spark.sql.shuffle.partitions", str(2 * n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "true" if trace else "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            # no hsperfdata file: it would go to /tmp, outside the checkout
            f"-Xms1g -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the Spark context and the JVM, and wait until every process
    the run started (JVM, pyspark daemon, Python workers) has ended."""
    from pyspark import SparkContext
    from perfbench.procstat import ProcessTree, wait_gone

    started = ProcessTree().processes()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    wait_gone(started, timeout_s=30)


class Bench:
    def __init__(self, args, work: str):
        from perfbench import workloads as W

        self.args = args
        self.wl = W.WORKLOADS[args.workload]
        self.work = work
        self.partitions = self.wl.partitions_per_core * cores()
        n = args.docs or self.wl.docs
        self.docs = W.make_documents(args.seed, n)
        self.routes = W.assign_routes(self.docs, self.wl.mix, args.seed)
        committed = W.committed_mask(self.docs, self.routes, self.wl.resume_share, args.seed)
        self.committed = W.expected_rows(self.docs[committed], self.routes[committed])
        self.expected = W.expected_rows(self.docs[~committed], self.routes[~committed])
        self.n_todo = int((~committed).sum())
        for key in sorted(self.expected)[: args.corrupt_expected]:
            self.expected[key] += "#"
        self.digest = W.row_digest(self.expected)
        self.spark = None
        self.pass_no = 0
        self.failed = 0
        self.attempted = 0
        self.correct = True
        self.match_rates: list[float] = []

    # -- set-up ---------------------------------------------------------

    def setup(self) -> float:
        """Corpus rendering, sink pre-seeding, session start, one cold pass
        and the workload's warm passes. Returns the time all of it took."""
        from perfbench import workloads as W

        t0 = now()
        self.pages_path = os.path.join(self.work, "pages")
        W.write_pages(self.docs, self.routes, self.pages_path, cores())
        self.sink0 = None
        if self.wl.sink == "parquet":
            self.sink0 = os.path.join(self.work, "sink0")
            W.write_committed(self.committed, os.path.join(self.sink0, "results"))
        t1 = now()
        self.spark = start_session(self.work, self.args.trace)
        t2 = now()
        passes = [self._run_pass()]
        t3 = now()
        passes += [self._run_pass() for _ in range(self.wl.warm_passes)]
        setup_s = now() - t0
        print(f"setup: render {t1 - t0:.3f} s, session {t2 - t1:.3f} s, cold pass "
              f"{t3 - t2:.3f} s, {len(passes) - 1} warm passes {now() - t3:.3f} s",
              file=sys.stderr)
        for res in passes:
            self._check(res, "warm-up pass")
        return setup_s

    # -- one pass of the job ---------------------------------------------

    def _run_pass(self, exact: bool = False, traced: bool = False) -> dict:
        """Run the job once over the whole corpus. Returns the timing and
        either an exact Check or the observed (rows, errors, digest)."""
        from perfbench import tracer
        from perfbench import workloads as W
        from paddleocr_spark.plans.pipeline import extract_pages, run_job
        from paddleocr_spark.sources.scan import scan_parquet
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        self.pass_no += 1
        spark = self.spark
        sc = spark.sparkContext
        group = f"pass{self.pass_no}"
        sc.setJobGroup(group, group)
        out = {"docs": self.n_todo, "group": group}
        if self.wl.sink == "parquet":
            sink = os.path.join(self.work, f"sink-{self.pass_no}")
            shutil.copytree(self.sink0, sink)
            results, audit = os.path.join(sink, "results"), os.path.join(sink, "audit")
            with tracer.patched() if traced else contextlib.nullcontext():
                t0 = now()
                run_job(
                    spark, scan_parquet(spark, self.pages_path), results, audit,
                    num_partitions=self.partitions, run_id=group, **self.wl.extract,
                )
                out["wall"] = now() - t0
            out["sink"] = (sink, group)
        else:
            with tracer.patched() if traced else contextlib.nullcontext():
                t0 = now()
                df = extract_pages(
                    scan_parquet(spark, self.pages_path), self.partitions,
                    **self.wl.extract,
                )
                if exact:
                    rows = df.select("url", "img_idx", "extracted_text").collect()
                else:
                    obs = Observation(group)
                    df.observe(
                        obs,
                        F.count(F.lit(1)).alias("rows"),
                        F.sum(F.when(F.col("img_idx") < 0, 1).otherwise(0)).alias("errors"),
                        F.bit_xor(F.xxhash64("url", "img_idx", "extracted_text")).alias("digest"),
                    ).write.format("noop").mode("overwrite").save()
                out["wall"] = now() - t0
            if exact:
                out["check"] = W.compare_rows(self.expected, rows)
            else:
                out["observed"] = obs.get
        out["failed_tasks"] = self._failed_task_share(group)
        print(f"{group}: {out['docs'] / out['wall']:.1f} docs/s", file=sys.stderr)
        return out

    def _read_sink(self, sink: str, run_id: str):
        """Check the run's rows and audit rows in the sink, then drop it."""
        import pyarrow.parquet as pq
        from perfbench import workloads as W

        results, audit = os.path.join(sink, "results"), os.path.join(sink, "audit")
        got = pq.read_table(
            os.path.join(results, f"run_id={run_id}"),
            columns=["url", "img_idx", "extracted_text"],
        ).to_pydict()
        check = W.compare_rows(
            self.expected, zip(got["url"], got["img_idx"], got["extracted_text"])
        )
        a = pq.read_table(audit, columns=["run_id", "page_count", "err_count"]).to_pydict()
        if (
            set(a["run_id"]) != {run_id}
            or sum(a["page_count"]) != len(got["url"])
            or sum(a["err_count"]) != 0
        ):
            check.unexpected += 1  # the audit does not account for the run
        shutil.rmtree(sink)
        return check

    def _failed_task_share(self, group: str) -> float:
        """Failed task attempts over all task attempts of the pass's jobs."""
        tracker = self.spark.sparkContext.statusTracker()
        failed = total = 0
        for jid in tracker.getJobIdsForGroup(group):
            job = tracker.getJobInfo(jid)
            for sid in job.stageIds if job else ():
                st = tracker.getStageInfo(sid)
                if st is not None:
                    failed += st.numFailedTasks
                    total += st.numTasks
        return failed / total if total else 0.0

    def _check(self, res: dict, what: str) -> None:
        """Fold one pass's outcome into the run's counts; report failures."""
        if "observed" in res:
            obs = res["observed"]
            if obs["rows"] == len(self.expected) and obs["errors"] == 0 and obs["digest"] == self.digest:
                rate, failed_docs, ok = 1.0, 0, True
            else:
                # the digest proves at least one row differs; an exact
                # re-run says which
                chk = self._run_pass(exact=True)["check"]
                rate = min(chk.text_match_rate, 1.0 - 1.0 / max(len(self.expected), 1))
                failed_docs, ok = chk.failed_docs, False
        else:
            chk = res["check"] if "check" in res else self._read_sink(*res["sink"])
            rate, failed_docs, ok = chk.text_match_rate, chk.failed_docs, chk.ok
        failed_docs = max(failed_docs, math.ceil(res["failed_tasks"] * res["docs"]))
        self.attempted += res["docs"]
        self.failed += failed_docs
        self.match_rates.append(rate)
        if not ok or failed_docs:
            self.correct = False
            print(
                f"CHECK FAILED ({what}): text_match_rate={rate:.6f} "
                f"failed_docs={failed_docs}",
                file=sys.stderr,
            )

    # -- the two kinds of run -----------------------------------------------

    def run_timed(self, setup_s: float) -> dict:
        from perfbench.procstat import PeakRss, ProcessTree

        tree = ProcessTree()
        per = {"docs_per_s": [], "cpu_s_per_kdoc": [], "peak_rss_mb": []}
        self.attempted = self.failed = 0
        self.match_rates = []
        with PeakRss(tree) as rss:
            t_end = now() + self.args.seconds
            while now() < t_end or len(per["docs_per_s"]) < 3:
                cpu0, _ = tree.sample()
                rss.reset()
                res = self._run_pass()
                cpu1, _ = tree.sample()
                per["peak_rss_mb"].append(rss.peak() / 1e6)
                per["docs_per_s"].append(res["docs"] / res["wall"])
                per["cpu_s_per_kdoc"].append((cpu1 - cpu0) * 1000.0 / res["docs"])
                self._check(res, f"timed pass {len(per['docs_per_s'])}")
        metrics = {k: statistics.median(v) for k, v in per.items()}
        metrics["peak_rss_mb"] = max(per["peak_rss_mb"])
        metrics["text_match_rate"] = min(self.match_rates)
        metrics["ok_share"] = 1.0 - self.failed / self.attempted
        metrics["setup_s"] = setup_s
        # value: what the run reports; q1/q3: quartiles over the timed passes
        print(f"{'metric':<16} {'unit':<6} {'value':>12} {'q1':>12} {'q3':>12}  passes")
        for k in UNITS:
            line = f"{k:<16} {UNITS[k]:<6} {metrics[k]:>12.4f}"
            if k in per:
                q1, q3 = quartiles(per[k])
                line += f" {q1:>12.4f} {q3:>12.4f}  {len(per[k])}"
            print(line)
        return {k: {"value": metrics[k], "unit": UNITS[k]} for k in UNITS}

    def run_traced(self) -> dict:
        from perfbench import ladder, layers, tracer

        spark = self.spark
        sc = spark.sparkContext
        resume = os.path.join(self.sink0, "results") if self.sink0 else None
        steps = ladder.steps(spark, self.pages_path, self.partitions, self.wl.extract, resume)
        times: dict = {name: [] for name, _ in steps}
        times.update({"run_job": [], "sink_write": [], "after_write": []})
        half = now() + self.args.seconds / 2.0
        while not times["extract"] or now() < half:
            for name, build in steps:
                sc.setJobGroup("ladder", name)
                t0 = now()
                build().write.format("noop").mode("overwrite").save()
                times[name].append(now() - t0)
            if self.sink0:
                wall, write_s = self._timed_run_job()
                times["run_job"].append(wall)
                times["sink_write"].append(write_s)
                times["after_write"].append(wall - write_s)
        med = {k: statistics.median(v) for k, v in times.items() if v}
        before_shuffle = med["resume"] if resume else med["scan"]
        untraced_wall = med["run_job"] if resume else med["extract"]

        trace_dir = os.path.join(self.work, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        sc.setLocalProperty(tracer.TRACE_DIR_PROP, trace_dir)
        self.attempted = self.failed = 0
        self.match_rates = []
        traced = []
        end = now() + self.args.seconds / 2.0
        while not traced or now() < end:
            traced.append(self._run_pass(traced=True))
        sc.setLocalProperty(tracer.TRACE_DIR_PROP, None)
        for k, res in enumerate(traced):
            self._check(res, f"traced pass {k + 1}")
        passes = len(traced)
        traced_walls = [res["wall"] for res in traced]
        stages = [s for res in traced for s in layers.stage_task_metrics(spark, res["group"])]
        tasks = tracer.load_spans(trace_dir)
        table, slot_s, attributed = layers.layer_table(tasks, stages, passes)

        m = {
            "sources.scan_s": med["scan"],
            "pipeline.resume_s": med["resume"] - med["scan"] if resume else 0.0,
            "pipeline.shuffle_s": med["shuffle"] - before_shuffle,
            "pipeline.udf_machinery_s": med["machinery"] - med["shuffle"],
            "pipeline.sink_s": med["sink_write"] - med["extract"] if resume else 0.0,
            "pipeline.audit_s": med["after_write"] if resume else 0.0,
        }
        m.update(layers.layer_metrics(tasks, passes))
        m.update(layers.spark_metrics(stages, {t["stage"] for t in tasks}, passes))
        m["trace.attributed_share"] = attributed / slot_s if slot_s else 0.0
        m["trace.unattributed_s"] = slot_s - attributed
        m["trace.overhead"] = untraced_wall / statistics.median(traced_walls)

        print(f"ladder (median s over {len(times['extract'])} rounds): "
              + ", ".join(f"{k}={v:.3f}" for k, v in med.items()))
        print(f"layer table, {self.wl.name}: slot-seconds per traced pass "
              f"({passes} passes, {slot_s:.3f} slot-s in total)")
        for name, v, share in sorted(table, key=lambda r: -r[1]):
            print(f"  {name:<30} {v:>10.4f}  {share:>7.1%}")
        return {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in m.items()}

    def _timed_run_job(self) -> tuple[float, float]:
        """Untraced run_job into a fresh copy of the pre-seeded sink:
        (whole call, the results write inside it)."""
        from pyspark.sql.readwriter import DataFrameWriter
        from paddleocr_spark.plans.pipeline import run_job
        from paddleocr_spark.sources.scan import scan_parquet

        sink = os.path.join(self.work, "sink")
        shutil.rmtree(sink, ignore_errors=True)
        shutil.copytree(self.sink0, sink)
        writes = []
        orig = DataFrameWriter.parquet

        def timed_parquet(self_, path, *a, **k):
            t0 = now()
            try:
                return orig(self_, path, *a, **k)
            finally:
                writes.append(now() - t0)

        self.spark.sparkContext.setJobGroup("ladder", "run_job")
        DataFrameWriter.parquet = timed_parquet
        try:
            t0 = now()
            run_job(
                self.spark, scan_parquet(self.spark, self.pages_path),
                os.path.join(sink, "results"), os.path.join(sink, "audit"),
                num_partitions=self.partitions, **self.wl.extract,
            )
            wall = now() - t0
        finally:
            DataFrameWriter.parquet = orig
        return wall, writes[0]


PER_LAYER_UNITS = {
    "sources.scan_s": "s", "pipeline.resume_s": "s", "pipeline.shuffle_s": "s",
    "pipeline.udf_machinery_s": "s", "pipeline.sink_s": "s", "pipeline.audit_s": "s",
    "pipeline.batch_self_s": "s", "pipeline.batches": "count",
    "pipeline.weights_install_s": "s",
    "route.sniff_s": "s", "route.html": "count", "route.pdf_text": "count",
    "route.scan": "count", "route.error": "count",
    "html_extract.s": "s", "html_extract.ms_p99": "ms",
    "pdf.text_s": "s", "pdf.text_hit_ratio": "ratio",
    "multipage.decode_s": "s", "multipage.pages": "count", "multipage.decode_mb_in": "MB",
    "cls.orient_s": "s", "cls.det_calls_per_page": "ratio", "onnx_rt.session_loads": "count",
    "det.s": "s", "det.calls": "count", "det.ms_p50": "ms", "det.ms_p99": "ms",
    "det.boxes": "count", "geometry.sort_s": "s", "ocr.crop_s": "s", "ocr.crops": "count",
    "rec.s": "s", "rec.calls": "count", "rec.crops_per_call": "ratio", "rec.ms_per_crop": "ms",
    "spark.task_cpu_s": "s", "spark.gc_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.task_s_p50": "s", "spark.task_s_max": "s", "spark.task_failures": "count",
    "trace.attributed_share": "ratio", "trace.unattributed_s": "s", "trace.overhead": "ratio",
}


def run_one(args) -> int:
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Everything Spark, the JVM and the Python workers write stays in `work`.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # spark-submit's launcher JVM: no hsperfdata file in /tmp either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    bench = Bench(args, work)
    try:
        setup_s = bench.setup()
        if args.trace:
            metrics = bench.run_traced()
        else:
            metrics = bench.run_timed(setup_s)
    finally:
        if bench.spark is not None:
            stop_spark(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    print(json.dumps({
        "correct": bench.correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0 if bench.correct else 1


def run_all(args) -> int:
    """Each workload in its own process, as the per-workload runs are."""
    from perfbench.workloads import WORKLOADS

    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    code = 0
    for name in WORKLOADS:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--docs", str(args.docs),
            "--corrupt-expected", str(args.corrupt_expected),
        ]
        print(f"== {name}", flush=True)
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        code = max(code, proc.returncode)
        try:
            res = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            out["correct"] = False
            continue
        out["correct"] &= res["correct"]
        out["attempted"] += res["attempted"]
        out["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            out["metrics"][f"{name}.{k}"] = v
    print(json.dumps(out))
    return code


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=12.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=0, help="corpus size override")
    p.add_argument(
        "--corrupt-expected", type=int, default=0,
        help="alter this many expected rows (a self-test of the gate)",
    )
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "paddleocr_spark")):
        print(f"no paddleocr_spark package under {ROOT}: run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload == "all":
        return run_all(args)
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)} or all",
              file=sys.stderr)
        return 2
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
