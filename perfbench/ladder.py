"""The plan ladder: the extraction job built up one layer at a time.

Each step adds one layer to the previous step's plan and is written to
the noop sink, so the difference between two adjacent steps' times is
the cost of the layer the later step adds:

    scan -> (+ resume anti-join) -> + salted repartition
         -> + length-only mapInPandas with the same weight broadcast
         -> full extract_pages -> (+ parquet sink and audit via run_job)
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd


def weights_blob(backend: str) -> bytes:
    """The blob extract_pages broadcasts for `backend`."""
    if backend == "onnx":
        from paddleocr_spark.kernels.onnx_models import build_onnx_bundle

        return build_onnx_bundle()
    from paddleocr_spark.kernels.font import export_weights

    return export_weights()


def payload_lengths(batches: Iterator[pd.DataFrame], bc) -> Iterator[pd.DataFrame]:
    """The UDF machinery with no extraction: read the broadcast, emit one
    (url, payload length) row per page."""
    _ = bc.value
    for pdf in batches:
        yield pd.DataFrame({"url": pdf["url"], "n": pdf["html"].map(len)})


def steps(spark, pages_path: str, partitions: int, extract: dict,
          resume_path: str | None) -> list:
    """[(name, build)]; build() returns the step's DataFrame."""
    from paddleocr_spark.plans.pipeline import (
        extract_pages,
        resume_filter,
        salted_repartition,
    )
    from paddleocr_spark.sources.scan import scan_parquet

    def scan():
        return scan_parquet(spark, pages_path)

    def todo():
        df = scan()
        return resume_filter(df, resume_path) if resume_path else df

    def shuffle():
        return salted_repartition(todo().select("url", "html"), partitions)

    def machinery():
        bc = spark.sparkContext.broadcast(weights_blob(extract.get("backend", "stub")))
        return shuffle().mapInPandas(
            lambda it: payload_lengths(it, bc), schema="url string, n long"
        )

    def full():
        return extract_pages(todo(), partitions, **extract)

    out = [("scan", lambda: scan().select("url", "html"))]
    if resume_path:
        out.append(("resume", lambda: todo().select("url", "html")))
    out += [("shuffle", shuffle), ("machinery", machinery), ("extract", full)]
    return out
