"""The correctness gate: expected rows, row comparison, and a benchmark
run that must fail when one expected row is wrong."""

import json
import os
import shutil
import subprocess
import sys

from perfbench import workloads as W

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _expected(n=24, seed=5):
    docs = W.make_documents(seed, n)
    routes = W.assign_routes(docs, W.WORKLOADS["crawl_mix"].mix, seed)
    return W.expected_rows(docs, routes)


def test_routes_and_resume_share_are_exact():
    docs = W.make_documents(5, 80)
    routes = W.assign_routes(docs, W.WORKLOADS["crawl_mix"].mix, 5)
    assert routes.value_counts().to_dict() == {"html": 40, "pdf_text": 20, "png": 10, "pdf_scan": 10}
    todo = routes[~W.committed_mask(docs, routes, 0.25, 5)]
    assert todo.value_counts().to_dict() == {"html": 30, "pdf_text": 15, "png": 8, "pdf_scan": 8}


def test_inputs_are_a_function_of_the_seed():
    a, b = W.make_documents(3, 50), W.make_documents(3, 50)
    assert a.equals(b)
    assert not a.equals(W.make_documents(4, 50))
    assert a["n_chars"].between(W.MIN_CHARS, W.MAX_CHARS + 8).all()


def test_exact_rows_pass():
    exp = _expected()
    chk = W.compare_rows(exp, [(u, i, t) for (u, i), t in exp.items()])
    assert chk.ok and chk.text_match_rate == 1.0 and chk.docs == len({u for u, _ in exp})


def test_one_corrupted_row_fails():
    exp = _expected()
    rows = [(u, i, t) for (u, i), t in exp.items()]
    u, i, t = rows[3]
    rows[3] = (u, i, t + "x")
    chk = W.compare_rows(exp, rows)
    assert not chk.ok
    assert chk.matched == len(exp) - 1
    assert chk.failed_docs == 0


def test_missing_and_error_rows_fail_their_docs():
    exp = _expected()
    rows = [(u, i, t) for (u, i), t in exp.items()]
    missing, errored = rows[0][0], rows[-1][0]
    rows = [r for r in rows if r[0] not in (missing, errored)]
    rows.append((errored, -1, ""))
    chk = W.compare_rows(exp, rows)
    assert not chk.ok
    assert chk.failed_docs == 2
    assert chk.unexpected == 0


def test_rows_for_unknown_urls_fail():
    exp = _expected()
    rows = [(u, i, t) for (u, i), t in exp.items()] + [("https://x.test/", 0, "")]
    chk = W.compare_rows(exp, rows)
    assert not chk.ok and chk.unexpected == 1


def test_a_corrupted_expected_row_fails_the_run():
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "rotated_onnx", "--seed", "1",
         "--seconds", "1", "--trace", "0", "--docs", "4",
         "--corrupt-expected", "1"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=300,
    )
    assert proc.returncode == 1, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"] is False
    assert out["metrics"]["text_match_rate"]["value"] < 1.0


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
