"""Static query fingerprints (plans/_fingerprint.py) and the two
selections built on them: the driver re-certification order of
__spark_entry__._coverage_order and tools/check_correctness.py
--changed-since. Everything here runs on source text: no Spark."""

from __future__ import annotations

import json
import os
import subprocess

import pytest

from afg_data_pipeline_spark.plans import REGISTRY
from afg_data_pipeline_spark.plans._fingerprint import (
    ROOT,
    certified,
    changed,
    fingerprints,
    git_sources,
    tree_sources,
)

LLM_OPS = "afg_data_pipeline_spark/plans/llm_ops.py"
GIT_ABSENT = (OSError, subprocess.CalledProcessError, ValueError)


def _edited(sources, path, old, new):
    assert sources[path].count(old) == 1, old
    return {**sources, path: sources[path].replace(old, new)}


@pytest.fixture(scope="module")
def sources():
    return tree_sources()


def test_every_registered_query_is_fingerprinted(sources):
    """A query registered under a computed name would go
    unfingerprinted and never count as certified: fail here instead."""
    assert set(fingerprints(sources)) == set(REGISTRY)


def test_fingerprints_ignore_comments_and_layout(sources):
    commented = {
        path: "# header comment\n"
        + src.replace("\ndef ", "\n# a comment\n\n\ndef ")
        for path, src in sources.items()
    }
    assert changed(sources, commented) == set()


def test_oracle_edit_reaches_queries_that_embed_it(sources):
    """contrastive_pairs' oracle embeds minhash_near_dup's through
    REGISTRY["minhash_near_dup"].oracle."""
    anchor = '"minhash_near_dup",\n    oracle="""\n'
    edited = _edited(sources, LLM_OPS, anchor, anchor + "-- edited\n")
    assert changed(sources, edited) == {
        "minhash_near_dup",
        "contrastive_pairs",
    }


def test_body_edit_leaves_module_siblings_alone(sources):
    edited = _edited(
        sources, LLM_OPS, "default_weight=0.08", "default_weight=0.09"
    )
    assert changed(sources, edited) == {"domain_mixture_resample"}


def test_imports_resolve_to_symbols():
    """A relative import, ``from pkg import submodule`` followed by
    ``submodule.attr``, and a bare module object, on a tiny package."""
    fs = "afg_data_pipeline_spark/fs.py"
    mod = "afg_data_pipeline_spark/ops/mod.py"
    base = {
        fs: "def used():\n    return 1\n\n\ndef unused():\n    return 2\n",
        mod: "from ..fs import used\n\n\ndef helper():\n    return used()"
        "\n\n\ndef other():\n    return 3\n",
        "afg_data_pipeline_spark/ops/__init__.py": "",
        "afg_data_pipeline_spark/plans/registry.py": "REGISTRY = {}\n"
        "\n\ndef register(name):\n    return lambda fn: fn\n",
        "afg_data_pipeline_spark/plans/q.py": (
            "from afg_data_pipeline_spark.ops import mod\n"
            "from afg_data_pipeline_spark.plans.registry import register\n"
            "@register('attr')\ndef attr():\n    return mod.helper()\n"
            "@register('bare')\ndef bare():\n    return vars(mod)\n"
        ),
    }
    assert changed({}, base) == {"attr", "bare"}
    touch = {
        (fs, "return 1"): {"attr", "bare"},
        (fs, "return 2"): set(),
        (mod, "return 3"): {"bare"},
    }
    for (path, old), want in touch.items():
        edited = _edited(base, path, old, old + " + 0")
        assert changed(base, edited) == want, (path, old)


def test_set_similarity_change_selects_its_thirteen_consumers():
    """The commit that moved small-corpus set similarity to the
    driver (4f64874) changed minhash_lsh_candidates and
    ngram_jaccard_pairs; exactly these queries reach them."""
    try:
        old = git_sources("4f64874~1")
        new = git_sources("4f64874")
    except GIT_ABSENT:
        pytest.skip("git history of 4f64874 is absent")
    assert changed(old, new) == {
        "contrastive_pairs",
        "corpus_after_dedup",
        "cross_source_dup_matrix",
        "dedup_cluster_stats",
        "dedup_keep_best",
        "dedup_threshold_sweep",
        "lsh_recall_audit",
        "minhash_near_dup",
        "near_dup_components",
        "near_dup_components_star",
        "ngram_jaccard_dups",
        "prefix_jaccard_pairs",
        "split_leakage_report",
    }


def test_certified_json_matches_git():
    try:
        derived = certified()
    except GIT_ABSENT:
        pytest.skip("the commits that added CORRECTNESS_r*.json are absent")
    with open(os.path.join(ROOT, "CERTIFIED.json")) as fh:
        committed = json.load(fh)
    assert committed == derived, (
        "CERTIFIED.json is stale or hand-edited: run "
        "python tools/check_correctness.py --refresh-certified"
    )


def test_red_rows_never_certify(sources, tmp_path, monkeypatch):
    """Only green rows whose round fingerprint equals today's certify;
    a query whose only row is red sorts with the never-certified."""
    import __spark_entry__ as e

    now = fingerprints(sources)
    green = {
        "rows_match": True,
        "schema_match": True,
        "hash_match": True,
        "spark_rows": 5,
        "oracle_rows": 5,
        "err": None,
    }
    no_oracle = {
        **green,
        "rows_match": None,
        "schema_match": None,
        "hash_match": None,
        "oracle_rows": None,
        "err": "no_oracle",
    }
    rows = {
        "agg_median": green,
        "knn_impute_series": no_oracle,
        "ab_test_welch": {**green, "hash_match": False},
        "activity_by_dow_hour": {**green, "err": "Traceback"},
        "approx_distinct_counts": {**no_oracle, "spark_rows": None},
        "argmin_per_group": green,
    }
    stamps = {n: now[n] for n in rows} | {"argmin_per_group": "0" * 16}
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(rows))
    # a round missing from CERTIFIED.json certifies nothing
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"association_rules": green})
    )
    (tmp_path / "CERTIFIED.json").write_text(json.dumps({"r01": stamps}))
    monkeypatch.setattr(e, "__file__", str(tmp_path / "__spark_entry__.py"))

    order = e._coverage_order(
        ["zz_never_checked", "association_rules", *rows]
    )
    assert order[0] == "zz_never_checked"
    assert set(order[-2:]) == {"agg_median", "knn_impute_series"}
