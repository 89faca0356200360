"""Self-tests of the benchmark's own machinery; no Spark needed.

    python3 perfbench/selftest.py

- The check path can fail: a wrong result and an op that raised both count
  as failed (``check.self_test``, which every run also executes).
- The generator is seeded: the same seed gives identical inputs (same content
  hash); another seed gives the same rows in another order, and another op
  order.
- Generated inputs land only under the checkout's ``.bench_cache/``, which
  ``.gitignore`` excludes, so they never reach tracked files.
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402


def _order(path: str, table: str, key: str) -> list[int]:
    return pq.read_table(os.path.join(path, f"{table}.parquet"), columns=[key])[key].to_pylist()


def main() -> int:
    check.self_test()

    scratch = os.path.join(ROOT, ".bench_work", f"selftest-{os.getpid()}")
    try:
        a, b, c = (os.path.join(scratch, x) for x in "abc")
        ha, hb, hc = gen.generate(a, 11, 0.001), gen.generate(b, 11, 0.001), gen.generate(c, 12, 0.001)
        assert ha == hb == gen.content_hash(b), "same seed gave different inputs"
        assert ha != hc, "another seed gave identical inputs"
        assert _order(a, "documents", "doc_id") != _order(c, "documents", "doc_id"), \
            "another seed kept the row order"
        assert sorted(_order(a, "documents", "doc_id")) == sorted(_order(c, "documents", "doc_id"))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    from workloads import WORKLOADS, lap_order

    w = WORKLOADS["stream_ingest"]
    ops = [type("O", (), {"name": n})() for n in ("x1", "x2", "x3", "x4", "x5", "x6")]
    orders = {s: [o.name for o in lap_order(w, ops, np.random.default_rng([s, 1]))]
              for s in (1, 2)}
    assert orders[1] != orders[2], "another seed kept the op order"

    with open(os.path.join(ROOT, ".gitignore")) as fh:
        ignored = {line.strip() for line in fh}
    assert {".bench_cache/", ".bench_work/"} <= ignored, "generated inputs are not git-ignored"
    print("perfbench self-test: ok")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
