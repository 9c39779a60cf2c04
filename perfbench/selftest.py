"""Self-test of the benchmark itself, at a tiny input size.

    python3 perfbench/selftest.py

1. The same seed gives byte-identical inputs (every generated log
   file and LLM backlog), and another seed gives other inputs.
2. Each workload runs end to end at ``PERFBENCH_SCALE=0.1`` and prints
   every end-to-end metric with its unit, with ``correct`` true and
   ``failed`` 0; with ``--trace 1`` it prints every per-layer metric.
3. With ``PERFBENCH_CORRUPT=1`` the run damages one of its own outputs
   after the clock (a dropped commit marker for ``ingest``, a dropped
   result row for ``analytics``) and ``failed`` must rise above 0.

Exits 0 when every check holds.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import run  # noqa: E402
from unified_log_aggregation_and_analytics_spark.sources.batch import DEFAULT_SF_DIR  # noqa: E402


def _inputs_digest(seed: int) -> str:
    """sha256 over every input the generator writes for ``seed``."""
    d = tempfile.mkdtemp(prefix="perfbench-selftest-", dir=os.path.join(run.ROOT, ".perfbench_run"))
    try:
        docs, vecs = gen.load_pool(DEFAULT_SF_DIR)
        lg = gen.LogGen(seed)
        for s in gen.LOG_SOURCES:
            with open(f"{d}/{s}.log", "w") as f:
                f.write(lg.file_text(s, 200))
        b, _ = gen.corpus_batches(docs, seed, 2, 50)
        gen.write_docs(b[0] + b[1], f"{d}/docs.parquet")
        b, _ = gen.vector_batches(vecs, seed, 2, 50, 0)
        gen.write_vectors(b[0] + b[1], f"{d}/vecs.parquet")
        b, _ = gen.semantic_batches(vecs, seed, 2, 50, gen.semantic_centroids(seed))
        gen.write_vectors(b[0] + b[1], f"{d}/sem.parquet")
        h = hashlib.sha256()
        for root, _, files in sorted(os.walk(d)):
            for name in sorted(files):
                with open(os.path.join(root, name), "rb") as f:
                    h.update(name.encode() + f.read())
        return h.hexdigest()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _run(workload: str, trace: int, corrupt: bool) -> dict:
    env = dict(os.environ, PERFBENCH_SCALE="0.1", PERFBENCH_CORRUPT="1" if corrupt else "0")
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "5",
         "--seconds", "2", "--trace", str(trace)],
        capture_output=True, text=True, env=env, cwd=run.ROOT,
    )
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
        raise AssertionError(f"{workload} exited {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    os.makedirs(os.path.join(run.ROOT, ".perfbench_run"), exist_ok=True)
    a, b, c = _inputs_digest(7), _inputs_digest(7), _inputs_digest(8)
    assert a == b, "same seed gave different inputs"
    assert a != c, "different seeds gave the same inputs"
    print("ok inputs: same seed byte-identical, other seed differs")
    for w in run.WORKLOADS:
        res = _run(w, 0, False)
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
        assert {k: v["unit"] for k, v in res["metrics"].items()} == run.E2E, res["metrics"]
        assert all(v["value"] > 0 for v in res["metrics"].values()), res["metrics"]
        print(f"ok {w}: every end-to-end metric printed with its unit, failed_ratio 0")
        res = _run(w, 1, False)
        assert {k: v["unit"] for k, v in res["metrics"].items()} == run.PER_LAYER, res["metrics"]
        print(f"ok {w} --trace 1: every per-layer metric printed with its unit")
        res = _run(w, 0, True)
        assert not res["correct"] and res["failed"] > 0, res
        print(f"ok {w}: corrupted output gives failed_ratio {res['failed'] / res['attempted']:.3f} > 0")
    return 0


if __name__ == "__main__":
    sys.exit(main())
