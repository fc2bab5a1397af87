"""Registry-wide duplicated-heavy-expression audit (r11).

For every registered query, dumps explain("formatted") and counts the
heavy expression classes (HOF folds, array_intersect, regex/split
pipelines) per OPERATOR KIND (Filter / Join condition / Project /
Generate). A heavy expression that appears in BOTH a Filter-or-Join
line and a Project line is the rule-18c duplicate-evaluation class
(guide §4.4): the optimizer pushed a predicate on a derived column
below the projection that computes it, so every surviving row pays
the expression twice.

Plan-construction side effects: some queries run real (cheap) Spark
jobs at plan build (tier probes, eager checkpoints, training
collects) — this sweep pays them, like r10's sweep did.

Usage: SPARK_GRAFT_CPUS=32 python tools/dup_expr_audit.py [name ...]
(no names = full registry). Prints one JSON line per flagged query.
"""

from __future__ import annotations

import io
import json
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from afg_data_pipeline_spark.plans import REGISTRY  # noqa: E402
from afg_data_pipeline_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEAVY = [
    ("fold", "aggregate(zip_with"),
    ("intersect", "array_intersect("),
    ("regex_all", "regexp_extract_all("),
    ("split", "split("),
    ("hof_filter", "filter(lambdafunction"),
    ("hof_transform", "transform(lambdafunction"),
]


def classify(plan: str) -> dict:
    """Count heavy-expression mentions per plan-operator context."""
    out: dict[str, dict[str, int]] = {}
    # formatted explain: operator detail blocks start "(<n>) <Op>"
    # followed by Input/Output/Condition/Join condition lines.
    ctx = None
    for line in plan.splitlines():
        m = re.match(r"\(\d+\) ([A-Za-z]+)", line)
        if m:
            ctx = m.group(1)
            continue
        kind = None
        if line.startswith("Condition") or line.startswith(
            "Join condition"
        ):
            kind = "cond"
        elif line.startswith("Output") or line.startswith(
            "Functions"
        ) or line.startswith("Aggregate Attributes") or line.startswith(
            "Results"
        ) or line.startswith("Generator"):
            kind = "proj"
        elif "PushedFilters" in line:
            kind = "pushed"
        if kind is None:
            continue
        for name, pat in HEAVY:
            c = line.count(pat)
            if c:
                key = f"{name}:{kind}"
                out.setdefault(ctx or "?", {})
                out[ctx or "?"][key] = (
                    out[ctx or "?"].get(key, 0) + c
                )
    return out


def main() -> None:
    names = sys.argv[1:] or list(REGISTRY)
    spark = get_session(
        "afg-dup-audit",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    flagged = 0
    for name in names:
        if name not in REGISTRY:
            continue
        try:
            df = REGISTRY[name].fn(spark, SF_DIR)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as e:  # noqa: BLE001
            print(json.dumps({"q": name, "err": str(e)[:120]}))
            continue
        spark.catalog.clearCache()
        counts = classify(plan)
        # flag: same heavy class present in a cond AND a proj line
        classes_cond = set()
        classes_proj = set()
        for op, kv in counts.items():
            for key, c in kv.items():
                cls, kind = key.split(":")
                if kind in ("cond", "pushed"):
                    classes_cond.add(cls)
                else:
                    classes_proj.add(cls)
        dup = sorted(classes_cond & classes_proj)
        if dup:
            flagged += 1
            print(
                json.dumps(
                    {"q": name, "dup_classes": dup, "by_op": counts}
                ),
                flush=True,
            )
    print(f"# flagged {flagged} of {len(names)}")
    spark.stop()


if __name__ == "__main__":
    main()
