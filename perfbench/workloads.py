"""Seeded inputs and expected outputs for the extraction benchmark.

A workload is a document table made from a seed, split into payload
routes, rendered into a `pages` parquet table with the program's own
renderers (the payloads `sources.pages` makes for its fixture corpora),
plus the expected text of every `(url, img_idx)` row. The program only
ever sees the rendered pages.

Expected text, per route:
- ``png`` / ``png_rot``: the normalized text wrapped into WRAP-char
  lines, joined by newlines (the OCR round-trip contract of
  `sources.pages`);
- ``pdf_scan``: the same, one page per PAGE_CHARS chunk of the text
  normalized at MULTI_CHARS;
- ``html``: the document text verbatim;
- ``pdf_text``: the page texts `operators.media.synth_text_pdf` encodes.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

# The vocabulary and shape of the repository's synthetic `documents`
# tables: 31 words, 44-577 characters, 20 sources, 5 languages.
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
MIN_CHARS, MAX_CHARS = 44, 577

@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    docs: int
    # route -> share of docs, in eighths
    mix: dict = field(default_factory=dict)
    extract: dict = field(default_factory=dict)  # extract_pages kwargs
    sink: str = "noop"  # "noop" or "parquet" (through run_job)
    resume_share: float = 0.0  # share of urls already in the sink
    # num_partitions per core for the job: enough tasks that the hash
    # partitioning of a small corpus does not leave one core with most of
    # the work, few enough that per-task costs stay small
    partitions_per_core: int = 2
    # Untimed passes after the cold one. The JIT keeps cutting the JVM's
    # CPU time for several passes (on crawl_mix on a 4-core VM: 8.0, 6.5,
    # 5.9, 5.4, 4.6, 4.0 CPU-s in passes 2-7, then 3.3-4.5); a fixed count
    # keeps every run at the same point of that ramp.
    warm_passes: int = 6


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "crawl_mix",
            "HTML, born-digital PDF, PNG and scanned PDF through run_job into "
            "a parquet sink a quarter full: routing, machinery and sink",
            docs=280,
            mix={"html": 4, "pdf_text": 2, "png": 1, "pdf_scan": 1},
            sink="parquet",
            resume_share=0.25,
        ),
        Workload(
            "rotated_onnx",
            "upside-down scans with orient=True on the ONNX backend: the "
            "orientation sweep and the graph det/rec path",
            docs=40,
            mix={"png_rot": 8},
            extract={"orient": True, "backend": "onnx"},
            partitions_per_core=4,
            warm_passes=1,
        ),
    )
}


def _unit_hash(tag: str, seed: int, doc_id: int) -> int:
    h = hashlib.blake2b(f"{tag}:{seed}:{doc_id}".encode(), digest_size=8)
    return int.from_bytes(h.digest(), "big")


def make_documents(seed: int, n: int) -> pd.DataFrame:
    """`documents`-shaped table (doc_id, text, lang, source, n_chars) of
    `n` rows, a pure function of `seed`."""
    rng = np.random.default_rng(seed)
    base = (seed % 1_000_000) * 1_000_000
    texts = []
    for target in rng.integers(MIN_CHARS, MAX_CHARS + 1, size=n):
        words: list[str] = []
        size = -1
        while size < target:
            w = VOCAB[rng.integers(len(VOCAB))]
            words.append(w)
            size += len(w) + 1
        texts.append(" ".join(words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(base, base + n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, size=n, p=LANG_P),
            "source": [f"src{k}" for k in rng.integers(N_SOURCES, size=n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _hash_rank(docs: pd.DataFrame, tag: str, seed: int) -> np.ndarray:
    """Each doc's position (0 = first) when docs are ordered by a seeded
    hash of their doc_id."""
    keys = [_unit_hash(tag, seed, int(d)) for d in docs["doc_id"]]
    rank = np.empty(len(keys), dtype=np.int64)
    rank[np.argsort(keys, kind="stable")] = np.arange(len(keys))
    return rank


def assign_routes(docs: pd.DataFrame, mix: dict, seed: int) -> pd.Series:
    """Route of each doc from a seeded hash of its doc_id, in eighths.
    Docs are ordered by the hash and cut in the mix's shares, so every seed
    gives each route the same number of docs."""
    if sum(mix.values()) != 8:
        raise ValueError(f"route mix must sum to 8 eighths: {mix}")
    bounds = np.cumsum(list(mix.values())) * len(docs) // 8
    pos = np.searchsorted(bounds, _hash_rank(docs, "route", seed), side="right")
    return pd.Series(np.array(list(mix))[pos], index=docs.index)


def committed_mask(
    docs: pd.DataFrame, routes: pd.Series, share: float, seed: int
) -> pd.Series:
    """Docs whose rows are already committed to the sink before a run: of
    each route, the first `share` of its docs in the order of a seeded hash
    of their doc_id, so the docs left to extract keep the route mix."""
    mask = pd.Series(False, index=docs.index)
    for _, group in docs.groupby(routes, sort=False):
        cut = int(share * len(group))
        mask[group.index] = _hash_rank(group, "resume", seed) < cut
    return mask


def expected_rows(docs: pd.DataFrame, routes: pd.Series) -> dict:
    """{(url, img_idx): extracted_text} for every row the job must emit."""
    from paddleocr_spark.operators.media import synth_text_pdf
    from paddleocr_spark.sources.pages import doc_url, wrap_lines

    out = {}
    for doc_id, text, source, route in zip(
        docs["doc_id"], docs["text"], docs["source"], routes
    ):
        url = doc_url(int(doc_id), str(source))
        if route == "html":
            out[(url, 0)] = str(text)
        elif route == "pdf_text":
            for k, page in enumerate(synth_text_pdf(int(doc_id))[1]):
                out[(url, k)] = page
        else:
            for k, page in enumerate(scan_pages(text, route)):
                out[(url, k)] = "\n".join(wrap_lines(page))
    return out


def scan_pages(text: str, route: str) -> list[str]:
    """The normalized characters each scanned page of a document shows."""
    from paddleocr_spark.sources.pages import MULTI_CHARS, PAGE_CHARS, normalize_text

    if route == "pdf_scan":
        norm = normalize_text(text, MULTI_CHARS)
        return [norm[i : i + PAGE_CHARS] for i in range(0, len(norm), PAGE_CHARS)] or [""]
    if route in ("png", "png_rot"):
        return [normalize_text(text)]
    raise ValueError(f"unknown route {route}")


def payload(doc_id: int, text: str, route: str) -> bytes:
    """The page payload of one document, made by the program's renderers
    exactly as `sources.pages` makes its fixture corpora."""
    from paddleocr_spark.kernels.font import render_page
    from paddleocr_spark.kernels.imageops import rotate180
    from paddleocr_spark.kernels.pdf import pdf_encode_gray_pages
    from paddleocr_spark.kernels.png import encode_gray_png
    from paddleocr_spark.operators.html_extract import synthesize_html
    from paddleocr_spark.operators.media import synth_text_pdf
    from paddleocr_spark.sources.pages import wrap_lines

    if route == "html":
        return synthesize_html(text, doc_id).encode("utf-8")
    if route == "pdf_text":
        return synth_text_pdf(doc_id)[0]
    images = [render_page(wrap_lines(p)) for p in scan_pages(text, route)]
    if route == "pdf_scan":
        return pdf_encode_gray_pages(images)
    if route == "png_rot":
        return encode_gray_png(rotate180(images[0]))
    return encode_gray_png(images[0])


def write_pages(docs: pd.DataFrame, routes: pd.Series, path: str, files: int) -> None:
    """Render every document and write the `pages` table (url, warc_ts,
    html, text, lang) as `files` parquet files under `path`."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from paddleocr_spark.sources.pages import doc_ts, doc_url

    table = pa.table(
        {
            "url": [doc_url(int(d), str(s)) for d, s in zip(docs["doc_id"], docs["source"])],
            "warc_ts": pa.array(
                [doc_ts(int(d)) for d in docs["doc_id"]], pa.timestamp("us", tz="UTC")
            ),
            "html": pa.array(
                [payload(int(d), str(t), r) for d, t, r in zip(docs["doc_id"], docs["text"], routes)],
                pa.binary(),
            ),
            "text": docs["text"].astype(str).tolist(),
            "lang": docs["lang"].astype(str).tolist(),
        }
    )
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:05d}.parquet"))


def write_committed(rows: dict, results_path: str) -> None:
    """Commit `rows` ({(url, img_idx): text}) to a results sink as one
    earlier run, in the sink's schema (`plans.pipeline.RESULTS_SCHEMA`
    plus run_id)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    span = pa.struct(
        [("box", pa.list_(pa.list_(pa.float32()))), ("text", pa.string()),
         ("score", pa.float32())]
    )
    keys = sorted(rows)
    n = len(keys)
    table = pa.table(
        {
            "url": pa.array([u for u, _ in keys], pa.string()),
            "img_idx": pa.array([i for _, i in keys], pa.int32()),
            "spans": pa.array([[]] * n, pa.list_(span)),
            "extracted_text": pa.array([rows[k] for k in keys], pa.string()),
            "n_spans": pa.array([0] * n, pa.int32()),
            "decode_ms": pa.array([0.0] * n, pa.float64()),
            "det_ms": pa.array([0.0] * n, pa.float64()),
            "rec_ms": pa.array([0.0] * n, pa.float64()),
            "run_id": pa.array(["preseed"] * n, pa.string()),
        }
    )
    out = os.path.join(results_path, "run_id=preseed")
    os.makedirs(out, exist_ok=True)
    pq.write_table(table, os.path.join(out, "part-00000.parquet"))


_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5,
)
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M, 31) * _P1 & _M


def xxh64(data: bytes, seed: int) -> int:
    """XXH64 of `data` (unsigned), as Spark's XXH64 computes it."""
    n = len(data)
    words = memoryview(data)[: n - n % 8].cast("Q")
    i = 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed, (seed - _P1) & _M]
        while i + 4 <= len(words):
            for k in range(4):
                v[k] = _round(v[k], words[i + k])
            i += 4
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for k in range(4):
            h = ((h ^ _round(0, v[k])) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    for w in words[i:]:
        h = (_rotl(h ^ _round(0, w), 27) * _P1 + _P4) & _M
    pos = n - n % 8
    if pos + 4 <= n:
        h = (_rotl(h ^ int.from_bytes(data[pos : pos + 4], "little") * _P1 & _M, 23) * _P2 + _P3) & _M
        pos += 4
    for b in data[pos:]:
        h = _rotl(h ^ b * _P5 & _M, 11) * _P1 & _M
    h = (h ^ (h >> 33)) * _P2 & _M
    h = (h ^ (h >> 29)) * _P3 & _M
    return h ^ (h >> 32)


def row_digest(rows: dict) -> int:
    """The XOR over rows of Spark's `xxhash64(url, img_idx, extracted_text)`
    (seed 42, each column's hash seeding the next), as a signed long: what
    `bit_xor(xxhash64(...))` returns for a result with exactly these rows."""
    acc = 0
    for (url, idx), text in rows.items():
        h = xxh64(url.encode("utf-8"), 42)
        h = xxh64(int(idx).to_bytes(4, "little", signed=True), h)
        acc ^= xxh64(text.encode("utf-8"), h)
    return acc - (1 << 64) if acc >= 1 << 63 else acc


@dataclass
class Check:
    """Outcome of comparing a job's rows with the expected rows."""

    expected: int = 0  # expected (url, img_idx) rows
    matched: int = 0  # of those, byte-identical extracted_text
    docs: int = 0  # docs attempted
    failed_docs: int = 0  # docs with an error row or a missing row
    unexpected: int = 0  # rows for keys that were not expected

    @property
    def text_match_rate(self) -> float:
        return self.matched / self.expected if self.expected else 0.0

    @property
    def ok(self) -> bool:
        return (
            self.matched == self.expected
            and self.failed_docs == 0
            and self.unexpected == 0
        )


def compare_rows(expected: dict, rows) -> Check:
    """The correctness gate: `rows` are (url, img_idx, extracted_text)."""
    docs = {url for url, _ in expected}
    got: dict = {}
    bad_urls = set()
    unexpected = 0
    for url, idx, text in rows:
        key = (url, int(idx))
        if int(idx) < 0:
            bad_urls.add(url)
        if key not in expected:
            unexpected += int(int(idx) >= 0)
            continue
        got[key] = text
    matched = 0
    for key, text in expected.items():
        if key not in got:
            bad_urls.add(key[0])
        elif got[key] == text:
            matched += 1
    return Check(
        expected=len(expected),
        matched=matched,
        docs=len(docs),
        failed_docs=len(bad_urls & docs),
        unexpected=unexpected + len(bad_urls - docs),
    )
