"""kernels/ocr.ocr_chain is the program's one OCR chain, and it reaches
every layer through its module attribute at call time, so a wrapper on
that attribute (the benchmark's tracer, the counters below) sees the
calls of every caller."""

import os
import re

import pandas as pd
import pytest

from paddleocr_spark.kernels import cls, det, font, geometry, ocr, rec
from paddleocr_spark.kernels.imageops import rotate180
from paddleocr_spark.kernels.png import encode_gray_png
from paddleocr_spark.plans import pipeline

from conftest import REPO

LINES = ["COUNTED CHAIN", "TWO LINES"]


def _grep(pattern: str) -> list[str]:
    """file:line of every match under paddleocr_spark/ and tools/."""
    pat = re.compile(pattern)
    hits = []
    for top in ("paddleocr_spark", "tools"):
        for root, _dirs, files in os.walk(os.path.join(REPO, top)):
            for f in sorted(files):
                if not f.endswith(".py"):
                    continue
                path = os.path.join(root, f)
                with open(path, encoding="utf-8") as fh:
                    for n, line in enumerate(fh, 1):
                        if pat.search(line):
                            hits.append(f"{os.path.relpath(path, REPO)}:{n}")
    return hits


def test_recognize_crops_has_one_call_site():
    sites = _grep(r"(?<!def )\brecognize_crops\(")
    assert len(sites) == 1, sites
    assert sites[0].startswith("paddleocr_spark/kernels/ocr.py:")


def test_one_chain_definition():
    defs = _grep(r"^\s*def ocr_chain\(")
    assert len(defs) == 1, defs
    assert defs[0].startswith("paddleocr_spark/kernels/ocr.py:")


@pytest.fixture
def counts(monkeypatch):
    seen = {}

    def counting(module, attr):
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            seen[attr] = seen.get(attr, 0) + 1
            return orig(*args, **kwargs)

        monkeypatch.setattr(module, attr, wrapper)

    counting(det, "detect_lines")
    counting(rec, "recognize_crops")
    counting(geometry, "sorted_boxes")
    counting(ocr, "get_rotate_crop_image")
    counting(cls, "orient_page")
    return seen


def test_engine_calls_reach_the_wrapped_layers(counts):
    eng = ocr.OcrEngine()
    assert eng.extract_text(font.render_page(LINES)) == "\n".join(LINES)
    assert counts == {
        "detect_lines": 1, "sorted_boxes": 1, "get_rotate_crop_image": 2,
        "recognize_crops": 1,
    }


def test_pipeline_calls_reach_the_wrapped_layers(counts):
    flipped = encode_gray_png(rotate180(font.render_page(LINES)))
    batch = pd.DataFrame({"url": ["u"], "html": [flipped]})
    out = next(pipeline._ocr_batches_run(iter([batch]), 0, orient=True))
    assert out.extracted_text.tolist() == ["\n".join(LINES)]
    assert counts["orient_page"] == 1
    assert counts["recognize_crops"] == 1
    # the sweep's probes run det too: at least one probe plus the page
    assert counts["detect_lines"] >= 2
    assert counts["sorted_boxes"] == 1


def test_custom_detect_replaces_whole_page_det(counts):
    from paddleocr_spark.functions.slicing import slice_detect_boxes

    eng = ocr.OcrEngine()
    spans, det_s, rec_s = ocr.ocr_chain(
        font.render_page(LINES), eng, detect=slice_detect_boxes
    )
    assert [s["text"] for s in spans] == LINES
    assert det_s > 0 and rec_s > 0
    assert counts["recognize_crops"] == 1
