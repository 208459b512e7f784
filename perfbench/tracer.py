"""Span tracing of the extraction UDF, from outside the program.

`patched()` swaps `plans.pipeline._ocr_batches` for `traced_ocr_batches`
while a traced job is planned, so the UDF that Spark ships to the Python
workers calls into this module. In each worker, `traced_ocr_batches`
wraps the layers' functions at their module attributes (the pipeline
imports them by name at call time, so it picks the wrappers up) and
records one span per call: name, start, end, parent span and the url of
the document being processed. Spans stay in memory and each task writes
its spans to one file in the trace directory when it ends.

Outside a traced task the wrappers only forward the call.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

from paddleocr_spark.plans import pipeline as _pipeline

TRACE_DIR_PROP = "perfbench.trace_dir"

_ORIG_OCR_BATCHES = _pipeline._ocr_batches
_now = time.perf_counter


class _Recorder:
    """Per-worker span buffer; one task at a time runs in a worker."""

    def __init__(self):
        self.active = False
        self.spans: list[list] = []
        self.stack: list[int] = []
        self.url = None
        self.batch_urls: list = []
        self.row = 0

    def begin(self) -> None:
        self.active = True
        self.spans = []
        self.stack = []
        self.url = None

    def open(self, name: str) -> int:
        sid = len(self.spans)
        parent = self.stack[-1] if self.stack else -1
        # [id, parent, name, start, end, url, n, m]
        self.spans.append([sid, parent, name, _now(), 0.0, self.url, 0, 0])
        self.stack.append(sid)
        return sid

    def close(self, sid: int, n: int = 0, m: int = 0) -> None:
        span = self.spans[sid]
        span[4] = _now()
        span[6] = n
        span[7] = m
        self.stack.pop()


REC = _Recorder()


def _wrap(module, attr: str, name: str, counts=None, on_error=(0, 0), before=None) -> None:
    """Replace module.attr by a wrapper that records a `name` span per call.
    `before(args)` runs first; `counts(args, result, before's value) ->
    (n, m)` fills the span's two counters; `on_error` are the counters of
    a call that raised."""
    orig = getattr(module, attr)
    if getattr(orig, "__perfbench_wrapped__", False):
        return

    def wrapper(*args, **kwargs):
        if not REC.active:
            return orig(*args, **kwargs)
        state = before(args) if before else None
        sid = REC.open(name)
        try:
            out = orig(*args, **kwargs)
        except Exception:
            REC.close(sid, *on_error)
            raise
        REC.close(sid, *(counts(args, out, state) if counts else (0, 0)))
        return out

    wrapper.__perfbench_wrapped__ = True
    wrapper.__wrapped__ = orig
    setattr(module, attr, wrapper)


def _next_url(args) -> None:
    """The route sniff runs once per row, in row order: it marks the start
    of the next document, so it sets the url later spans carry."""
    if REC.row < len(REC.batch_urls):
        REC.url = REC.batch_urls[REC.row]
    REC.row += 1


def install() -> None:
    """Wrap every traced layer in this process (idempotent)."""
    from paddleocr_spark.kernels import (
        cls,
        det,
        font,
        geometry,
        multipage,
        ocr,
        onnx_models,
        onnx_rt,
        pdf,
        rec,
    )
    from paddleocr_spark.operators import html_extract

    def sessions(_args):
        return len(onnx_rt._SESSION_CACHE)

    def loaded(_args, _out, before):  # session_for caches per process
        return len(onnx_rt._SESSION_CACHE) - before, 0

    _wrap(_pipeline, "_sniff_html", "route.sniff",
          lambda a, out, _: (int(bool(out)), 0), before=_next_url)
    _wrap(html_extract, "extract_main_text", "html_extract")
    _wrap(
        pdf, "pdf_text_pages", "pdf.text",
        lambda a, out, _: (int(bool(out) and all(t is not None for t in out)), len(a[0])),
    )
    _wrap(
        multipage, "decode_payload", "multipage.decode",
        lambda a, out, _: (len(out), len(a[0])), on_error=(-1, 0),
    )
    _wrap(cls, "orient_page", "cls.orient")
    _wrap(det, "detect_lines", "det", lambda a, out, _: (len(out[0]), 0))
    _wrap(geometry, "sorted_boxes", "geometry.sort")
    _wrap(ocr, "get_rotate_crop_image", "ocr.crop")
    _wrap(rec, "recognize_crops", "rec", lambda a, out, _: (len(a[0]), 0))
    _wrap(font, "load_weights", "weights.install")
    _wrap(onnx_models, "onnx_engine_models", "weights.install")
    _wrap(onnx_models, "session_for", "onnx_rt.session", loaded, before=sessions)
    _wrap(onnx_rt, "session_for", "onnx_rt.session", loaded, before=sessions)


def _traced_input(batches):
    """Time each pull of an input batch (Arrow -> pandas) as its own span."""
    it = iter(batches)
    while True:
        sid = REC.open("pipeline.arrow_in")
        try:
            pdf = next(it)
        except StopIteration:
            REC.close(sid)
            return
        REC.close(sid, len(pdf))
        REC.batch_urls = list(pdf["url"])
        REC.row = 0
        yield pdf


def traced_ocr_batches(batches, page_limit, orient=False, weights_bc=None):
    """Drop-in for `pipeline._ocr_batches` that records spans."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    install()
    REC.begin()
    gen = _ORIG_OCR_BATCHES(_traced_input(batches), page_limit, orient, weights_bc)
    try:
        while True:
            sid = REC.open("pipeline.batch")
            try:
                out = next(gen)
            except StopIteration:
                REC.close(sid)
                break
            REC.close(sid, len(out))
            REC.url = None
            t0 = _now()
            yield out  # the consumer converts the frame to Arrow meanwhile
            REC.spans.append(
                [len(REC.spans), -1, "pipeline.arrow_out", t0, _now(), None, 0, 0]
            )
    finally:
        REC.active = False
        out_dir = ctx.getLocalProperty(TRACE_DIR_PROP) if ctx else None
        if out_dir:
            name = (
                f"spans-{ctx.stageId()}-{ctx.partitionId()}-"
                f"{ctx.attemptNumber()}-{os.getpid()}.json"
            )
            with open(os.path.join(out_dir, name), "w") as f:
                json.dump({"stage": ctx.stageId(), "spans": REC.spans}, f)


@contextlib.contextmanager
def patched():
    """Plan traced jobs: the UDF built inside this block is the traced one."""
    _pipeline._ocr_batches = traced_ocr_batches
    try:
        yield
    finally:
        _pipeline._ocr_batches = _ORIG_OCR_BATCHES


def load_spans(trace_dir: str) -> list[dict]:
    tasks = []
    for name in sorted(os.listdir(trace_dir)):
        if name.startswith("spans-"):
            with open(os.path.join(trace_dir, name)) as f:
                tasks.append(json.load(f))
    return tasks
