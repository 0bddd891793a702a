#!/usr/bin/env python
"""Run the test suite sharded across N pytest processes.

Single-process ``pytest tests/`` takes ~40 min; each worker here gets
its own JVM/SparkSession (ports auto-increment), so the wall time is
the heaviest shard (~10-15 min at N=4).  Files are greedy-bin-packed
by measured weights so the fuzz/golden monsters spread out.  Usage:

    python scripts/run_tests_sharded.py [N] [--smoke]

``--smoke`` restricts to the ``smoke``-marked tier (oracle parity +
reference inline suites + plan quality + entry contract; see
pytest.ini) — the ≤5 min inner-loop gate.  Exit code is non-zero if
any shard fails; each shard's tail is printed, and full logs land in
/tmp/rm_shard_<i>.log.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import time

# approximate single-file wall seconds (round-8 measurements); files
# not listed default to 30
WEIGHTS = {
    "test_pipe_fuzz_complex.py": 700,
    "test_pipe_fuzz_threeway.py": 600,
    "test_string_sqlfn.py": 490,
    "test_golden_reference.py": 320,
    "test_pipe_fuzz.py": 260,
    "test_oracle_parity.py": 250,
    "test_endpoint_fuzz.py": 200,
    "test_retrieval.py": 160,
    "test_cli_and_streaming.py": 150,
    "test_compile_scale.py": 150,
    "test_plan_quality.py": 100,
    "test_trace_graph.py": 80,
    "test_interp_golden.py": 70,
    "test_end_to_end_corpus.py": 70,
    "test_diag.py": 60,
    "test_sqlfn.py": 60,
    "test_property_ops.py": 60,
    "test_reference_inline_suites.py": 50,
    "test_compiled_rule.py": 60,
}


# modules carrying ``pytestmark = pytest.mark.smoke`` (kept in sync by
# test_suite_tiers.py); only these are sharded under --smoke
SMOKE_FILES = {
    "test_oracle_parity.py",
    "test_plan_quality.py",
    "test_reference_inline_suites.py",
    "test_v2_eval_inline.py",
    "test_v2_transform_inline.py",
    "test_endpoint_inline.py",
    "test_entry_contract.py",
    "test_expr_fastpath.py",
    "test_service_record.py",
    "test_service_concurrency.py",
    "test_finalize_filter.py",
    "test_interp_bridge.py",
    "test_string_sqlfn.py",
    "test_compiled_rule.py",
}


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--smoke"]
    smoke = "--smoke" in sys.argv[1:]
    n = int(args[0]) if args else 4
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = sorted(glob.glob(os.path.join(repo, "tests", "test_*.py")))
    if smoke:
        files = [f for f in files if os.path.basename(f) in SMOKE_FILES]
    weighted = sorted(
        files, key=lambda f: -WEIGHTS.get(os.path.basename(f), 30))
    shards: list[tuple[float, list[str]]] = [(0.0, []) for _ in range(n)]
    for f in weighted:
        w = WEIGHTS.get(os.path.basename(f), 30)
        i = min(range(n), key=lambda k: shards[k][0])
        shards[i] = (shards[i][0] + w, shards[i][1] + [f])

    procs = []
    t0 = time.time()
    for i, (w, fs) in enumerate(shards):
        log = open(f"/tmp/rm_shard_{i}.log", "w")
        log.write("FILES: " + " ".join(os.path.basename(f)
                                        for f in fs) + "\n")
        log.flush()
        env = dict(os.environ)
        # shards name their files explicitly, which already bypasses
        # the smoke-tier default gate (tests/conftest.py); the env var
        # makes the intent explicit and future-proof
        env["SPARK_GRAFT_FULL_TESTS"] = "1"
        procs.append((i, subprocess.Popen(
            [sys.executable, "-m", "pytest", "-q", "--durations=15",
             *fs],
            cwd=repo, stdout=log, stderr=subprocess.STDOUT, env=env),
            log))
        print(f"shard {i}: ~{w:.0f}s estimated, {len(fs)} files")
    rc = 0
    for i, p, log in procs:
        p.wait()
        log.close()
        tail = open(f"/tmp/rm_shard_{i}.log").read().strip()
        last = [ln for ln in tail.splitlines() if ln.strip()][-1:]
        print(f"shard {i} rc={p.returncode}: {last[0] if last else ''}")
        if p.returncode != 0:
            rc = 1
            fails = [ln for ln in tail.splitlines()
                     if ln.startswith("FAILED") or ln.startswith("ERROR")]
            for ln in fails[:20]:
                print("   ", ln)
    print(f"total wall: {time.time() - t0:.0f}s")
    return rc


if __name__ == "__main__":
    sys.exit(main())
