"""The extraction UDF's per-payload routes, pinned without Spark.

`_ocr_batches_run` is fed one pandas batch holding one payload per route
(html, born-digital pdf_text, PNG scan, image-only PDF scan) plus the
odd cases the job emits today:

- a DOM-extractor exception gives an `img_idx=0` row with empty text;
- a PDF whose text parser fails falls through to the scan route (and,
  when its pages do not decode either, to the decode-failure row);
- a decode failure gives one `img_idx=-1` row with empty text.

Every non-timing column is asserted exactly; timing columns are checked
for which stage owns them."""

import pandas as pd
import pytest

from paddleocr_spark.kernels import pdf as _pdf
from paddleocr_spark.kernels.font import render_page
from paddleocr_spark.kernels.imageops import rotate180
from paddleocr_spark.kernels.pdf import pdf_encode_gray_pages
from paddleocr_spark.kernels.png import encode_gray_png
from paddleocr_spark.operators import html_extract
from paddleocr_spark.operators.media import synth_text_pdf
from paddleocr_spark.plans import pipeline

HTML_TEXT = " ".join(["ROUTE PIN HTML TEXT WITH ENOUGH WORDS TO BE THE MAIN CONTENT"] * 3)
BOOM = "this page makes the dom extractor raise"

PNG = encode_gray_png(render_page(["HELLO WORLD 42"]))
SCAN_PDF = pdf_encode_gray_pages(
    [render_page(["SCAN ONE"]), render_page(["PAGE TWO"])]
)
# decodes fine, but its text parser is made to raise below
PARSE_FAIL_PDF = pdf_encode_gray_pages([render_page(["FALLS THROUGH"])])
TEXT_PDF, TEXT_PAGES = synth_text_pdf(1)


def _span(x1, y1, x2, y2, text, score):
    box = [[x1, y1], [x2, y1], [x2, y2], [x1, y2]]
    return {"box": box, "text": text, "score": score}


HELLO = _span(0.0, 2.0, 483.0, 73.0, "HELLO WORLD 42", 0.9850050210952759)
SCAN_ONE = _span(0.0, 3.0, 291.0, 72.0, "SCAN ONE", 0.9755046367645264)
PAGE_TWO = _span(0.0, 3.0, 291.0, 72.0, "PAGE TWO", 0.9765956997871399)
FALLS = _span(0.0, 3.0, 451.0, 72.0, "FALLS THROUGH", 0.9842457175254822)

PAYLOADS = [
    ("html", html_extract.synthesize_html(HTML_TEXT, 0).encode()),
    ("html_boom", f"<html><body><p>{BOOM}</p></body></html>".encode()),
    ("pdf_text", TEXT_PDF),
    ("png", PNG),
    ("pdf_scan", SCAN_PDF),
    ("pdf_parse_fail", PARSE_FAIL_PDF),
    ("pdf_malformed", b"%PDF-1.4 garbage"),
    ("decode_fail", b"\x89PNG\r\n\x1a\ntruncated"),
]


@pytest.fixture
def rows(monkeypatch):
    real_extract = html_extract.extract_main_text
    real_text_pages = _pdf.pdf_text_pages

    def extract(html):
        if BOOM in html:
            raise ValueError("unparseable DOM")
        return real_extract(html)

    def text_pages(payload):
        if payload == PARSE_FAIL_PDF:
            raise ValueError("broken xref")
        return real_text_pages(payload)

    monkeypatch.setattr(html_extract, "extract_main_text", extract)
    monkeypatch.setattr(_pdf, "pdf_text_pages", text_pages)

    def run(page_limit=0, orient=False, payloads=PAYLOADS):
        batch = pd.DataFrame(
            {"url": [u for u, _ in payloads], "html": [p for _, p in payloads]}
        )
        out = list(pipeline._ocr_batches_run(iter([batch]), page_limit, orient))
        assert len(out) == 1
        return out[0]

    return run


def _key(frame):
    return [
        (r.url, r.img_idx, r.extracted_text, r.n_spans, r.spans)
        for r in frame.itertuples()
    ]


def test_every_route_and_odd_case(rows):
    out = rows()
    assert list(out.columns) == [
        "url", "img_idx", "spans", "extracted_text", "n_spans",
        "decode_ms", "det_ms", "rec_ms",
    ]
    assert _key(out) == [
        ("html", 0, HTML_TEXT, 0, []),
        ("html_boom", 0, "", 0, []),
        ("pdf_text", 0, TEXT_PAGES[0], 0, []),
        ("pdf_text", 1, TEXT_PAGES[1], 0, []),
        ("png", 0, "HELLO WORLD 42", 1, [HELLO]),
        ("pdf_scan", 0, "SCAN ONE", 1, [SCAN_ONE]),
        ("pdf_scan", 1, "PAGE TWO", 1, [PAGE_TWO]),
        ("pdf_parse_fail", 0, "FALLS THROUGH", 1, [FALLS]),
        ("pdf_malformed", -1, "", 0, []),
        ("decode_fail", -1, "", 0, []),
    ]
    timed = out.set_index(["url", "img_idx"])
    # html and pdf_text put their whole cost under decode_ms
    for key in [("html", 0), ("html_boom", 0), ("pdf_text", 0), ("pdf_text", 1)]:
        assert timed.loc[key, "decode_ms"] > 0
        assert timed.loc[key, ["det_ms", "rec_ms"]].tolist() == [0.0, 0.0]
    # a decode failure carries no timings at all
    for key in [("pdf_malformed", -1), ("decode_fail", -1)]:
        assert timed.loc[key, ["decode_ms", "det_ms", "rec_ms"]].tolist() == [
            0.0, 0.0, 0.0,
        ]
    # scan rows split decode per page and own det and rec time
    for key in [("png", 0), ("pdf_scan", 0), ("pdf_scan", 1), ("pdf_parse_fail", 0)]:
        assert (timed.loc[key, ["decode_ms", "det_ms", "rec_ms"]] > 0).all()


def test_page_limit_caps_text_and_scan_pdfs(rows):
    out = rows(page_limit=1)
    assert [(r.url, r.img_idx) for r in out.itertuples()] == [
        ("html", 0), ("html_boom", 0), ("pdf_text", 0), ("png", 0),
        ("pdf_scan", 0), ("pdf_parse_fail", 0), ("pdf_malformed", -1),
        ("decode_fail", -1),
    ]


def test_orient_turns_an_upside_down_scan_upright(rows):
    lines = ["UPSIDE DOWN SCAN", "READS UPRIGHT"]
    flipped = encode_gray_png(rotate180(render_page(lines)))
    out = rows(orient=True, payloads=[("rot", flipped), ("png", PNG)])
    assert out.extracted_text.tolist() == ["\n".join(lines), "HELLO WORLD 42"]
    assert out.spans[1] == [HELLO]


def test_empty_batch_yields_an_empty_frame(rows):
    out = rows(payloads=[])
    assert len(out) == 0 and out.columns[0] == "url"
