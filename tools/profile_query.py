"""Per-stage profiler for registered queries (optimization rounds).

For each query name given:
  * times it through tools/measure.best_of (min wall reported, same
    methodology as bench.py),
  * writes ``plans/r10/<name>_before.txt`` (or ``_after.txt`` with
    AFG_PLAN_SUFFIX=after) with the ``explain("formatted")`` output,
  * pulls per-job / per-stage wall, shuffle bytes and task counts
    from the local Spark UI REST API (http://localhost:4040) for the
    LAST (warm) repetition, so the dominant stage of each query is
    visible without the UI.

Usage: SPARK_GRAFT_CPUS=32 python tools/profile_query.py q1 [q2 ...]
"""

from __future__ import annotations

import io
import json
import os
import sys
import urllib.request
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from afg_data_pipeline_spark.plans import REGISTRY  # noqa: E402
from tools.measure import REPS, best_of, session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PLAN_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    os.environ.get("AFG_PLAN_ROUND", "r11"),
)
SUFFIX = os.environ.get("AFG_PLAN_SUFFIX", "before")


def _api(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=10) as r:
        return json.load(r)


def main() -> None:
    names = [n for n in sys.argv[1:] if n in REGISTRY]
    unknown = [n for n in sys.argv[1:] if n not in REGISTRY]
    if unknown:
        print(f"unknown queries skipped: {unknown}")
    os.makedirs(PLAN_DIR, exist_ok=True)

    spark = session("afg-profile")
    sc = spark.sparkContext
    ui = sc.uiWebUrl  # e.g. http://host:4040
    app_id = sc.applicationId
    base = f"{ui}/api/v1/applications/{app_id}"

    for name in names:
        q = REGISTRY[name]
        # plan dump (analysis only, cheap)
        df = q.fn(spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(
            os.path.join(PLAN_DIR, f"{name}_{SUFFIX}.txt"), "w"
        ) as f:
            f.write(buf.getvalue())

        # Each rep tags its jobs with its own description, so the
        # report below can pick out the LAST (warm) rep's jobs.
        tags: list[str] = []

        def run():
            tags.append(f"profile:{name}:{len(tags)}")
            sc.setJobDescription(tags[-1])
            return q.fn(spark, SF_DIR)

        best, _ = best_of(run, REPS)
        sc.setJobDescription(None)
        spark.catalog.clearCache()

        # Per-job + per-stage report for the LAST (warm) repetition.
        jobs = [
            j for j in _api(base, "/jobs") if j.get("description") == tags[-1]
        ]
        jobs.sort(key=lambda j: j["jobId"])
        print(f"\n=== {name}: min {best:.3f}s, {len(jobs)} jobs ===")
        stage_rows = []
        for j in jobs:
            t0 = j.get("submissionTime", "")
            t1 = j.get("completionTime", "")
            print(
                f"  job {j['jobId']}: stages={len(j['stageIds'])} "
                f"tasks={j['numCompletedTasks']} {t0}..{t1}"
            )
            for sid in j["stageIds"]:
                try:
                    sts = _api(base, f"/stages/{sid}")
                except Exception:
                    continue
                for st in sts:
                    if st["status"] != "COMPLETE":
                        continue
                    stage_rows.append(
                        (
                            st.get("executorRunTime", 0),
                            sid,
                            st["numCompleteTasks"],
                            st.get("shuffleReadBytes", 0),
                            st.get("shuffleWriteBytes", 0),
                            st.get("inputBytes", 0),
                            st["name"].split("\n")[0][:70],
                        )
                    )
        stage_rows.sort(reverse=True)
        for rt, sid, nt, srb, swb, ib, nm in stage_rows[:12]:
            print(
                f"    stage {sid:>4} run={rt / 1000.0:7.2f}s "
                f"tasks={nt:>3} in={ib >> 20}MB "
                f"sr={srb >> 20}MB sw={swb >> 20}MB  {nm}"
            )
        print(json.dumps({"q": name, "s": round(best, 3)}), flush=True)

    spark.stop()


if __name__ == "__main__":
    main()
