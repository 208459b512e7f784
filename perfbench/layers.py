"""Per-layer metrics from worker spans and Spark's task metrics.

Self time of a span is its duration minus the time its child spans cover.
The layer table charges self time to layers, in task slot-seconds (one
Python worker or one JVM task thread is one slot). Task slot-seconds come
from Spark's REST API (executorRunTime of every task of the traced jobs);
stages that ran no traced UDF are charged to one JVM row, and what no
layer claims is the `unattributed` row.
"""

from __future__ import annotations

import json
import math
import statistics
import time
import urllib.request
from collections import defaultdict

# spans whose self time goes to a table row of another name
ROW_OF_SPAN = {
    "weights.install": "pipeline.weights_install",
    "onnx_rt.session": "pipeline.weights_install",
    "pipeline.batch": "pipeline.batch_self",
}


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100); 0.0 for no values."""
    if not values:
        return 0.0
    s = sorted(values)
    return float(s[max(0, math.ceil(q / 100.0 * len(s)) - 1)])


def span_stats(tasks: list[dict]) -> dict:
    """name -> {"self": s, "total": s, "calls": k, "n": sum, "m": sum,
    "durs": [s...], "hits": calls with n > 0, "errors": calls with n < 0}"""
    out: dict = defaultdict(
        lambda: {"self": 0.0, "total": 0.0, "calls": 0, "n": 0, "m": 0,
                 "durs": [], "hits": 0, "errors": 0}
    )
    for task in tasks:
        spans = task["spans"]
        child = [0.0] * len(spans)
        for sid, parent, _name, t0, t1, _url, _n, _m in spans:
            if parent >= 0:
                child[parent] += t1 - t0
        for sid, parent, name, t0, t1, _url, n, m in spans:
            st = out[name]
            dur = t1 - t0
            st["self"] += dur - child[sid]
            st["total"] += dur
            st["calls"] += 1
            st["n"] += max(n, 0)
            st["m"] += m
            st["durs"].append(dur)
            st["hits"] += int(n > 0)
            st["errors"] += int(n < 0)
    return out


def rest_get(base: str, path: str):
    with urllib.request.urlopen(f"{base}/api/v1{path}", timeout=10) as r:
        return json.loads(r.read())


def stage_task_metrics(spark, job_group: str, timeout_s: float = 15.0) -> list[dict]:
    """Per stage attempt of every job in `job_group`: the stage summary and
    its task list, read from the UI's REST API once the status store has
    caught up with the finished jobs."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}"
    app = sc.applicationId
    tracker = sc.statusTracker()
    stage_ids = sorted(
        {
            sid
            for jid in tracker.getJobIdsForGroup(job_group)
            for sid in (tracker.getJobInfo(jid).stageIds if tracker.getJobInfo(jid) else ())
        }
    )
    out = []
    deadline = time.monotonic() + timeout_s
    for sid in stage_ids:
        while True:
            try:
                attempts = rest_get(base, f"/applications/{app}/stages/{sid}")
            except OSError:
                attempts = None
            if attempts is not None and all(
                a["status"] not in ("ACTIVE", "PENDING") for a in attempts
            ):
                break
            if time.monotonic() > deadline:
                break
            time.sleep(0.2)
        for a in attempts or ():
            if a["status"] == "SKIPPED":
                continue
            tasks = rest_get(
                base,
                f"/applications/{app}/stages/{sid}/{a['attemptId']}/taskList"
                "?length=1000000",
            )
            out.append({"stage": a, "tasks": tasks})
    return out


def spark_metrics(stages: list[dict], udf_stages: set, passes: int) -> dict:
    """spark.* per-layer metrics, per traced pass."""
    cpu = gc = shuffle = failures = 0.0
    udf_task_s = []
    for st in stages:
        a = st["stage"]
        cpu += a.get("executorCpuTime", 0) / 1e9
        gc += a.get("jvmGcTime", 0) / 1e3
        shuffle += a.get("shuffleWriteBytes", 0) / 1e6
        failures += a.get("numFailedTasks", 0)
        if a["stageId"] in udf_stages:
            udf_task_s += [
                t["taskMetrics"]["executorRunTime"] / 1e3
                for t in st["tasks"]
                if t.get("taskMetrics") and t.get("status") == "SUCCESS"
            ]
    return {
        "spark.task_cpu_s": cpu / passes,
        "spark.gc_s": gc / passes,
        "spark.shuffle_write_mb": shuffle / passes,
        "spark.task_s_p50": statistics.median(udf_task_s) if udf_task_s else 0.0,
        "spark.task_s_max": max(udf_task_s) if udf_task_s else 0.0,
        "spark.task_failures": failures / passes,
    }


def layer_table(tasks: list[dict], stages: list[dict], passes: int):
    """(rows, total slot-s): rows are (layer, self slot-s per pass, share)."""
    stats = span_stats(tasks)
    udf_stages = {t["stage"] for t in tasks}
    total = sum(st["stage"].get("executorRunTime", 0) for st in stages) / 1e3
    jvm = sum(
        st["stage"].get("executorRunTime", 0)
        for st in stages
        if st["stage"]["stageId"] not in udf_stages
    ) / 1e3
    rows: dict = defaultdict(float)
    rows["jvm (stages without the UDF)"] = jvm
    for span, st in stats.items():
        rows[ROW_OF_SPAN.get(span, span)] += st["self"]
    attributed = sum(rows.values())
    rows["unattributed"] = total - attributed
    table = [
        (name, v / passes, v / total if total else 0.0) for name, v in rows.items()
    ]
    return table, total / passes, attributed / passes


def layer_metrics(tasks: list[dict], passes: int) -> dict:
    """Per-layer metrics from the worker spans, per traced pass."""
    s = span_stats(tasks)
    sniff, html, pdf_text = s["route.sniff"], s["html_extract"], s["pdf.text"]
    decode, det, rec = s["multipage.decode"], s["det"], s["rec"]
    crop, orient, batch = s["ocr.crop"], s["cls.orient"], s["pipeline.batch"]
    # weights.install spans hold the session loads they trigger; the cls
    # session loads outside them
    weights_s = s["weights.install"]["self"] + s["onnx_rt.session"]["self"]
    pages = decode["n"]
    ok_decodes = decode["calls"] - decode["errors"]
    return {
        "pipeline.batch_self_s": batch["self"] / passes,
        "pipeline.batches": batch["hits"] / passes,
        "pipeline.weights_install_s": weights_s / passes,
        "route.sniff_s": sniff["total"] / passes,
        "route.html": sniff["hits"] / passes,
        "route.pdf_text": pdf_text["hits"] / passes,
        "route.scan": ok_decodes / passes,
        "route.error": decode["errors"] / passes,
        "html_extract.s": html["total"] / passes,
        "html_extract.ms_p99": percentile(html["durs"], 99) * 1e3,
        "pdf.text_s": pdf_text["total"] / passes,
        "pdf.text_hit_ratio": pdf_text["hits"] / pdf_text["calls"] if pdf_text["calls"] else 0.0,
        "multipage.decode_s": decode["total"] / passes,
        "multipage.pages": pages / passes,
        "multipage.decode_mb_in": decode["m"] / 1e6 / passes,
        "cls.orient_s": orient["self"] / passes,
        "cls.det_calls_per_page": det["calls"] / pages if pages else 0.0,
        "onnx_rt.session_loads": s["onnx_rt.session"]["n"] / passes,
        "det.s": det["total"] / passes,
        "det.calls": det["calls"] / passes,
        "det.ms_p50": percentile(det["durs"], 50) * 1e3,
        "det.ms_p99": percentile(det["durs"], 99) * 1e3,
        "det.boxes": det["n"] / passes,
        "geometry.sort_s": s["geometry.sort"]["total"] / passes,
        "ocr.crop_s": crop["total"] / passes,
        "ocr.crops": crop["calls"] / passes,
        "rec.s": rec["total"] / passes,
        "rec.calls": rec["calls"] / passes,
        "rec.crops_per_call": rec["n"] / rec["calls"] if rec["calls"] else 0.0,
        "rec.ms_per_crop": rec["total"] * 1e3 / rec["n"] if rec["n"] else 0.0,
    }
