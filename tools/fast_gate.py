"""Parallel test gate: shard tests/test_*.py across N pytest
processes (each with its own JVM/SparkSession) and aggregate.

The full suite is ~18 min single-process — not because any test is
slow, but because 800+ Spark tests each pay 1-2 s of job overhead
serially. pytest-xdist isn't in the sandbox; this is the same idea
at file granularity. Files are greedy-bin-packed by a static cost
table (measured r9, --durations aggregate) so the shards finish
together; unknown files get a default cost.

Usage:
    python tools/fast_gate.py            # 6 shards, SPARK_GRAFT_CPUS=5 each
    python tools/fast_gate.py -n 4      # 4 shards
    python tools/fast_gate.py -- -k foo  # extra pytest args after --

Exit code is non-zero if ANY shard fails; each shard's tail is
printed on failure.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# measured seconds (r9 full run, durations>=1s aggregated by file);
# files not listed cost DEFAULT_COST
COSTS = {
    # measured 0:08:46 as a shard sharing files (r9): the oracle
    # sweep dominates any shard it lands in — price it so the
    # packer gives it a shard of its own
    "test_correctness.py": 400,
    "test_streaming.py": 50,
    # measured alone, 4-vCPU host: every radius-graph, pagerank,
    # bfs / sssp and k-core test runs on both sides of the driver gate,
    # and the edge handoff's equivalence tests add ~75 s
    "test_graph.py": 375,
    "test_fs.py": 18,
    "test_setsim_local.py": 45,
    # no Spark: it parses the package source ~17 times, 11 of them
    # to rebuild CERTIFIED.json from the round trees (~25 s)
    "test_fingerprint.py": 30,
    "test_bpe.py": 35,
    "test_pq.py": 31,
    "test_streaming_ann_index.py": 29,
    "test_streaming_dsir.py": 28,
    "test_streaming_drift.py": 26,
    "test_operators_joins.py": 23,
    "test_streaming_classify.py": 21,
    "test_kmeans.py": 21,
    "test_streaming_funnel.py": 21,
    "test_bloom.py": 14,
    "test_jdbc_roundtrip.py": 12,
    "test_bm25.py": 10,
    "test_graph_hits.py": 9,
    # the contrastive kernel-vs-distributed tests add ~25 s
    "test_llm_ops.py": 55,
    "test_corpus_ops.py": 25,
    "test_reference_semantics.py": 20,
    "test_codecs.py": 15,
    "test_multimodal_golden.py": 12,
    "test_point_in_polygon.py": 65,
}
DEFAULT_COST = 10


def shard_files(n: int) -> list[list[str]]:
    files = sorted(
        glob.glob(os.path.join(REPO, "tests", "test_*.py"))
    )
    sized = sorted(
        (
            (COSTS.get(os.path.basename(f), DEFAULT_COST), f)
            for f in files
        ),
        reverse=True,
    )
    shards: list[tuple[int, list[str]]] = [
        (0, []) for _ in range(n)
    ]
    for cost, f in sized:
        tot, fl = min(shards, key=lambda s: s[0])
        i = shards.index((tot, fl))
        shards[i] = (tot + cost, fl + [f])
    return [fl for _tot, fl in shards if fl]


def main() -> int:
    args = sys.argv[1:]
    n = 6
    if "-n" in args:
        i = args.index("-n")
        n = int(args[i + 1])
        args = args[:i] + args[i + 2 :]
    extra = []
    if "--" in args:
        i = args.index("--")
        extra = args[i + 1 :]
        args = args[:i]
    cpus_each = max(2, 30 // n)
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(cpus_each))
    procs = []
    logs = []
    for i, shard in enumerate(shard_files(n)):
        log = tempfile.NamedTemporaryFile(
            mode="w+",
            prefix=f"fast_gate_{i}_",
            suffix=".log",
            delete=False,
        )
        logs.append(log)
        procs.append(
            subprocess.Popen(
                [
                    sys.executable,
                    "-m",
                    "pytest",
                    "-q",
                    "-p",
                    "no:cacheprovider",
                    *extra,
                    *shard,
                ],
                cwd=REPO,
                stdout=log,
                stderr=subprocess.STDOUT,
                env=env,
            )
        )
    rc = 0
    for i, (p, log) in enumerate(zip(procs, logs)):
        code = p.wait()
        log.flush()
        with open(log.name) as fh:
            tail = fh.readlines()[-30:]
        summary = next(
            (
                ln.strip()
                for ln in reversed(tail)
                if "passed" in ln or "failed" in ln or "error" in ln
            ),
            "(no summary)",
        )
        print(f"shard {i}: rc={code} {summary}")
        if code != 0:
            rc = code
            print("".join(tail))
        os.unlink(log.name)
    return rc


if __name__ == "__main__":
    sys.exit(main())
