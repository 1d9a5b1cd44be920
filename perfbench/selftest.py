#!/usr/bin/env python3
"""Self-test of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py

Run from the root of a checkout.  Asserts that
- the same seed writes byte-identical inputs, for every workload;
- a different seed writes different bytes but the engine builds the
  same number of triples from them, and finds the same near-duplicate
  pairs in the same documents reordered;
- the output checks reject a corrupted output: one triple dropped from
  the written triples table, one pair dropped from the near-duplicate
  result.
Small inputs keep it to about a minute.  Exits 0 when every assertion
holds.
"""

from __future__ import annotations

import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.run import make_session, remove_run_dir, run_dir, stop_jvm

    tmp = run_dir("selftest")
    from perfbench.workloads import WORKLOADS, fresh_dir, input_digest

    failures = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    def small(name: str, seed: int):
        wl = WORKLOADS[name](seed, fresh_dir(os.path.join(tmp, f"{name}-{seed}")))
        if hasattr(wl, "n_repos"):
            wl.n_repos = 8
        else:
            wl.n_docs = 1000
        return wl

    spark = None
    try:
        digests = {}
        for name in WORKLOADS:
            for seed, k in ((1, "a"), (1, "b"), (2, "a")):
                wl = small(name, seed)
                d = wl.write_inputs(fresh_dir(os.path.join(tmp, f"in-{name}-{seed}{k}")))
                digests[(name, seed, k)] = input_digest(d)
            expect(digests[(name, 1, "a")] == digests[(name, 1, "b")],
                   f"{name}: same seed, byte-identical inputs")
            expect(digests[(name, 1, "a")] != digests[(name, 2, "a")],
                   f"{name}: different seed, different input bytes")

        spark = make_session(tmp, traced=False)

        counts = {}
        for seed in (1, 2):
            wl = small("kg_full", seed)
            wl.write_inputs(fresh_dir(os.path.join(tmp, f"kg-{seed}")))
            wl.load(spark)
            wl.oracle()
            wl.iterate()
            expect(wl.check() == [], f"kg_full seed {seed}: output check passes")
            t = os.path.join(wl.out, "triples")
            counts[seed] = spark.read.parquet(t).count()
        expect(counts[1] == counts[2],
               f"kg_full: seeds 1 and 2 build the same triple count ({counts})")

        # drop one triple from the written table, then re-check
        t = os.path.join(wl.out, "triples")
        keep = os.path.join(tmp, "triples-minus-one")
        rows = spark.read.parquet(t)
        one = rows.limit(1)
        rows.exceptAll(one).write.parquet(keep)
        shutil.rmtree(t)
        shutil.copytree(keep, t)
        expect(wl.check() != [], "kg_full: one dropped triple is rejected")

        pair_sets = {}
        for seed in (2, 1):
            wl = small("doc_neardup", seed)
            wl.write_inputs(fresh_dir(os.path.join(tmp, f"docs-{seed}")))
            wl.load(spark)
            wl.oracle()
            wl.iterate()
            expect(wl.check() == [], f"doc_neardup seed {seed}: output check passes")
            pair_sets[seed] = wl.notes["pairs_sha256"]
        expect(pair_sets[1] == pair_sets[2],
               f"doc_neardup: seeds 1 and 2 find the same pair set ({pair_sets})")
        best = max(wl.pairs, key=lambda p: p["jaccard"])
        wl.pairs = [p for p in wl.pairs if p is not best]
        wl.hashes.clear()
        expect(wl.check() != [], "doc_neardup: one dropped pair is rejected")
    finally:
        if spark is not None:
            stop_jvm(spark)
        remove_run_dir(tmp)
    print("selftest:", "FAILED" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
