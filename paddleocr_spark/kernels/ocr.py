"""The composed per-page OCR kernel: [orient ->] detect -> order -> crop
-> recognize -> score-filter -> extracted text.

`ocr_chain` is the analogue of the reference's TextSystem.__call__
(tools/infer/predict_system.py:76-157) and the only place in the
program that runs it: det boxes, sorted_boxes reading order (:124),
perspective crop per box (:126-132), batched rec, then drop results
with score < DROP_SCORE (:149-154). Page orientation is the fork's
page-level sweep (kernels/cls.orient_page), run before det when asked
for. extracted_text joins kept line texts with '\n' in reading order
(the TSV sink's transcription order, :244-267).

The chain reaches det, geometry, rec and cls through their modules at
call time, so a wrapper installed on one of those module attributes
(a tracer, a counting test) sees every call.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np

from . import cls, det, geometry, rec
from .det import DetConfig, DetModel
from .imageops import warp_perspective
from .rec import RecConfig, RecModel

DROP_SCORE = 0.5


def get_rotate_crop_image(img: np.ndarray, quad: np.ndarray) -> np.ndarray:
    """Perspective-warp a TL,TR,BR,BL quad to an upright crop; rotate 90
    if the crop is tall (h/w >= 1.5) — reference
    tools/infer/utility.py:865-906 semantics."""
    q = np.asarray(quad, dtype=np.float64)
    crop_w = int(max(np.linalg.norm(q[0] - q[1]), np.linalg.norm(q[2] - q[3])))
    crop_h = int(max(np.linalg.norm(q[0] - q[3]), np.linalg.norm(q[1] - q[2])))
    # Axis-aligned integer quads (the common case: DB emits rounded
    # upright rects for horizontal text) reduce the homography to an
    # identity sample grid — a slice copy, skipping the warp math.
    x0, y0 = q[0]
    if (
        q[0][1] == q[1][1]
        and q[2][1] == q[3][1]
        and q[0][0] == q[3][0]
        and q[1][0] == q[2][0]
        and float(x0).is_integer()
        and float(y0).is_integer()
        and q[1][0] - x0 == crop_w
        and q[3][1] - y0 == crop_h
    ):
        xi, yi = int(x0), int(y0)
        crop = img[yi : yi + crop_h, xi : xi + crop_w].astype(np.float32)
    else:
        crop = warp_perspective(img, q, crop_w, crop_h)
    if crop.shape[1] > 0 and crop.shape[0] / max(crop.shape[1], 1) >= 1.5:
        crop = np.rot90(crop, 3).copy()
    return crop


def ocr_chain(
    img: np.ndarray, engine: OcrEngine, orient: bool = False, detect=None
) -> tuple[list[dict], float, float]:
    """uint8 grayscale page -> (spans, det_s, rec_s).

    spans are reading-ordered and score-filtered:
    [{box: [[x,y]x4], text: str, score: float}]. `orient` turns the page
    upright first (kernels/cls.orient_page, scored by engine.cls_model
    when the engine carries one, else by rec confidence). `detect(img,
    det_model) -> boxes` replaces whole-page det (the sliced and poster
    strategies of kernels/slice). det_s covers orient + det + sort +
    crop; rec_s covers recognition."""
    t0 = time.perf_counter()
    if orient:
        img, _angle = cls.orient_page(
            img,
            lambda im: det.detect_lines(im, engine.det_model),
            get_rotate_crop_image,
            engine.rec_model,
            cls_model=engine.cls_model,
        )
    if detect is None:
        boxes, _ = det.detect_lines(img, engine.det_model)
    else:
        boxes = detect(img, engine.det_model)
    boxes = geometry.sorted_boxes(boxes)
    crops = [get_rotate_crop_image(img, b) for b in boxes]
    t1 = time.perf_counter()
    rec_res = rec.recognize_crops(crops, engine.rec_model)
    t2 = time.perf_counter()
    spans = [
        {"box": [[float(x), float(y)] for x, y in b], "text": t, "score": float(s)}
        for b, (t, s) in zip(boxes, rec_res)
        if s >= DROP_SCORE
    ]
    return spans, t1 - t0, t2 - t1


@dataclass
class OcrConfig:
    det: DetConfig = field(default_factory=DetConfig)
    rec: RecConfig = field(default_factory=RecConfig)


@dataclass
class OcrEngine:
    """Holds the (stub) model instances; one per executor process, cached
    by plans/pipeline.py the way the reference caches predictors.
    cls_model is set only while a broadcast bundle with a classifier is
    installed."""

    cfg: OcrConfig = field(default_factory=OcrConfig)

    def __post_init__(self):
        self.det_model = DetModel(self.cfg.det)
        self.rec_model = RecModel(self.cfg.rec)
        self.cls_model = None

    def ocr_page(self, gray: np.ndarray) -> list[dict]:
        return ocr_chain(gray, self)[0]

    def extract_text(self, gray: np.ndarray) -> str:
        return "\n".join(s["text"] for s in self.ocr_page(gray))
