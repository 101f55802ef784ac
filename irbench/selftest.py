#!/usr/bin/env python3
"""Self-test of the benchmark.

    python3 irbench/selftest.py          # everything (about five minutes)
    python3 irbench/selftest.py --quick  # without Spark (seconds)

Checks, in order:

1. the generator gives the same bytes for the same seed and different
   bytes for another seed, and its planted structure holds (near-dup
   Jaccard and cosine floors, qrels point at files holding the topic);
2. the plain-Python references in ``checks.py`` on hand-made inputs;
3. BENCHMARK.json names exactly the metrics ``run.py`` reports;
4. (full mode) a tiny-size smoke run of each workload, untraced and
   traced, which must exit 0, report correct results and print every
   declared metric;
5. (full mode) in a directory holding only BENCHMARK.json and the
   benchmark's files, the benchmark exits non-zero without a result.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

import numpy as np

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_DIR = os.path.join(BENCH_DIR, ".work")
sys.path[:0] = [ROOT, BENCH_DIR]

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def test_generator() -> None:
    size = gen.Size(n_docs=300, n_idents=200, n_topics=4, n_queries=10)
    a, b = gen.generate(7, size), gen.generate(7, size)
    assert gen.fingerprint(a) == gen.fingerprint(b), "same seed, different bytes"
    assert gen.fingerprint(a) != gen.fingerprint(gen.generate(8, size)), \
        "another seed gave the same bytes"
    props = a.properties()
    assert props["docs"] == 300 and props["vocab_df_le_2"] > 0, props
    assert a.near_dups, "no near-duplicates planted"
    cos = checks.cosine_of(a.embeddings)
    for x, y in a.near_dups:
        assert gen._jaccard(a.tokens[x], a.tokens[y]) >= gen.NEAR_DUP_MIN_JACCARD
        assert cos(x, y) > 0.999
    for qid, text in a.topics:
        terms = set(text.split())
        for q, d, rel in a.qrels:
            if q == qid and rel > 0:
                assert terms & set(a.tokens[int(d)]), (qid, d)
    for _, text in a.queries:
        assert 1 <= len(text.split()) <= 5


def test_checks() -> None:
    # ties at ranks 2-3 may come in either order; a wrong doc may not
    want = [(1, 3.0), (2, 2.0), (3, 2.0), (4, 1.0)]
    assert not checks.compare_topk([(1, 3.0), (3, 2.0), (2, 2.0), (4, 1.0)], want)
    assert checks.compare_topk([(1, 3.0), (2, 2.0), (5, 2.0), (4, 1.0)], want)
    assert checks.compare_topk([(1, 3.0), (2, 2.0), (3, 2.0), (4, 1.1)], want)

    os.makedirs(WORK_DIR, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=WORK_DIR) as d:
        path = os.path.join(d, "run")
        with open(path, "w", encoding="utf-8") as fh:
            for rank, doc in enumerate(["7", "8", "9"], start=1):
                fh.write(f"1\tQ0\t{doc}\t{rank}\t{1.0 / rank:.6f}\tt\n")
        qrels = [("1", "8", 2.0), ("1", "9", 1.0), ("1", "5", 1.0), ("1", "7", 0.0)]
        got = checks.eval_from_run_file(path, qrels, p_at=2, ndcg_at=2)["1"]
    dcg = 2 / math.log2(3)
    want_m = {
        "num_ret": 3, "num_rel": 3, "num_rel_ret": 2, "recall": 2 / 3,
        "rr": 0.5, "ap": (1 / 2 + 2 / 3) / 3, "p_at_2": 0.5, "dcg": dcg,
        "ndcg": dcg / (2 + 1 / math.log2(3)),
    }
    assert not checks.compare_eval({"1": got}, {"1": want_m}), got

    assert not checks.check_ranked_run([("a", 5, 1, 2.0), ("a", 6, 2, 1.0)], 10)
    assert checks.check_ranked_run([("a", 5, 1, 1.0), ("a", 6, 2, 2.0)], 10)

    toks = [["x", "y", "z"], ["x", "y", "z", "w"], ["q"]]
    jac = checks.jaccard_of(toks)
    assert not checks.check_pairs([(0, 1, 0.75)], [(0, 1)], jac, 0.7, "t")
    assert checks.check_pairs([], [(0, 1)], jac, 0.7, "t"), "missed pair not caught"
    assert checks.check_pairs([(0, 1, 0.5)], [], jac, 0.7, "t"), "wrong value not caught"
    cos = checks.cosine_of(np.array([[1.0, 0.0], [1.0, 0.01]]))
    assert not checks.check_pairs([(0, 1, cos(0, 1))], [(0, 1)], cos, 0.95, "c")


def test_declared_metrics() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == run.END_TO_END, (e2e, run.END_TO_END)
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert layer == run.layer_units(), set(layer) ^ set(run.layer_units())
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


def _bench(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("irbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_smoke() -> None:
    for workload in workloads.WORKLOADS:
        for trace in ("0", "1"):
            p = _bench(["--workload", workload, "--seed", "1", "--seconds", "1",
                        "--trace", trace, "--tiny"], ROOT)
            assert p.returncode == 0, p.stderr[-3000:]
            result = json.loads(p.stdout.strip().splitlines()[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}
            assert result["correct"] and result["failed"] == 0, result
            want = run.layer_units() if trace == "1" else run.END_TO_END
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == want, set(got) ^ set(want)
            print(f"smoke {workload} trace={trace}: ok", flush=True)


def test_bare_directory() -> None:
    os.makedirs(WORK_DIR, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=WORK_DIR) as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(BENCH_DIR, os.path.join(d, "irbench"),
                        ignore=shutil.ignore_patterns(".work", "__pycache__"))
        p = _bench(["--workload", "ingest", "--seed", "1", "--seconds", "1",
                    "--trace", "0"], d)
        assert p.returncode != 0 and '"correct"' not in p.stdout, p


def main() -> int:
    quick = "--quick" in sys.argv[1:]
    tests = [test_generator, test_checks, test_declared_metrics]
    if not quick:
        tests += [test_bare_directory, test_smoke]
    for t in tests:
        t()
        print(f"{t.__name__}: ok", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
