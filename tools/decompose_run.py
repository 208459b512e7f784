"""Bare-metal kernel-pool control for the scaling decomposition.

Runs the EXACT extraction kernel chain (payload decode ->
kernels/ocr.ocr_chain: det -> reading-order sort -> crop -> rec -> CTC ->
drop_score) over the same materialized pages corpus the Spark scaling
pairs use, in a plain multiprocessing pool — no Spark, no JVM, no Arrow.
Comparing this pool's N -> 4N efficiency against the Spark job's
separates three effects the north rule's cluster criterion needs
separated on a shared single-host sandbox:

1. host oversubscription (the pool can't scale past what the VM gives —
   bracket with bench.py's ALU probe);
2. kernel scaling (the pool IS the kernels; if it tracks the host
   ceiling, the kernels are not the bottleneck);
3. Spark machinery share (the job minus the pool; measured separately
   by scaling_run.py --passthrough).

Usage: python tools/decompose_run.py <procs> <pages_parquet_path> [replicate] [passes]
Prints one JSON line {"procs": N, "docs": n, "sec": s, "docs_per_sec": r}.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

_ENGINE = None


def _work(payloads: list[bytes]) -> int:
    """The scan route of plans/pipeline._ocr_batches_run, minus the
    Spark wrapper: one engine singleton per pool process, same chain."""
    global _ENGINE
    from paddleocr_spark.kernels.multipage import decode_payload
    from paddleocr_spark.kernels.ocr import OcrEngine, ocr_chain

    if _ENGINE is None:
        _ENGINE = OcrEngine()
    n = 0
    for payload in payloads:
        for img in decode_payload(payload, 0):
            ocr_chain(img, _ENGINE)
            n += 1
    return n


def main() -> None:
    import multiprocessing as mp

    import pyarrow.parquet as pq

    procs = int(sys.argv[1])
    pages_path = sys.argv[2]
    replicate = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    passes = int(sys.argv[4]) if len(sys.argv) > 4 else 2

    table = pq.read_table(pages_path, columns=["html"])
    payloads = [b.as_py() for b in table["html"]] * replicate
    chunks = [payloads[i::procs * 4] for i in range(procs * 4)]

    with mp.Pool(procs) as pool:
        # warm: absorb per-process imports + engine construction
        pool.map(_work, [payloads[:2]] * procs)
        best = None
        docs = 0
        for _ in range(passes):
            t0 = time.time()
            docs = sum(pool.map(_work, chunks))
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
    print(
        json.dumps(
            {
                "procs": procs,
                "docs": docs,
                "sec": round(best, 2),
                "docs_per_sec": round(docs / best, 2),
            }
        )
    )


if __name__ == "__main__":
    main()
