"""Full pages pipeline: end-to-end correctness, resumability, triple P/R."""

from __future__ import annotations

import json
import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from neo4j_export_tool_spark.operators import canonicalize
from neo4j_export_tool_spark.plans import pages_pipeline
from neo4j_export_tool_spark.plans.pages_pipeline import (
    STAGES,
    PagesPipeline,
    StageLedger,
)
from neo4j_export_tool_spark.sources.synth import (
    GAZETTEER,
    ORGS,
    PAGES_DDL,
    PERSONS,
    PLACES,
    RELATION_TEMPLATES,
    generate_pages,
    pages_spark_df,
)

SURFACES = {
    "Person": [s for a in PERSONS.values() for s in a],
    "Organization": [s for a in ORGS.values() for s in a],
    "Place": [s for a in PLACES.values() for s in a],
}
N_DOCS = 200
SEED = 42


@pytest.fixture(scope="module")
def work_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("pipeline"))


@pytest.fixture(scope="module")
def first_run(spark, work_dir):
    pages = pages_spark_df(spark, N_DOCS, seed=SEED, partitions=4)
    pipe = PagesPipeline(
        spark, work_dir, GAZETTEER, RELATION_TEMPLATES, SURFACES, resume=True
    )
    return pipe.run(pages, fingerprint=f"synth:{N_DOCS}:{SEED}")


def test_all_stages_ran(first_run):
    assert first_run.stages_run == [
        "extract",
        "mentions",
        "triples",
        "canonicalize",
        "link",
        "nodes",
        "edges",
        "export",
    ]
    assert first_run.stages_skipped == []
    for stage, m in first_run.metrics.items():
        assert m["rows"] > 0, stage
        assert sum(m["partition_rows"]) == m["rows"]


def test_ledger_rows_match_stage_parquet(spark, work_dir, first_run):
    """The footer row counts in the ledger are the stage outputs' real row
    counts, not just self-consistent per-file sums."""
    for stage, m in first_run.metrics.items():
        if stage == "export":  # JSONL, checked against its metadata below
            continue
        assert m["rows"] == spark.read.parquet(f"{work_dir}/stages/{stage}").count(), stage


def test_triple_pr_vs_planted_oracle(spark, first_run, work_dir):
    got = spark.read.parquet(f"{work_dir}/stages/triples")
    got_set = {
        (r["url"], r["subj_surface"], r["pred"], r["obj_surface"])
        for r in got.collect()
    }
    _, oracle = generate_pages(N_DOCS, seed=SEED)
    want_set = set(
        zip(oracle["url"], oracle["subj_surface"], oracle["pred"], oracle["obj_surface"])
    )
    tp = len(got_set & want_set)
    assert tp / max(len(got_set), 1) >= 0.95
    assert tp / max(len(want_set), 1) >= 0.95


def test_canonicalization_clusters_aliases(spark, work_dir, first_run):
    cmap = {
        r["surface"]: r["canonical_surface"]
        for r in spark.read.parquet(f"{work_dir}/stages/canonicalize").collect()
    }
    # alias surface forms planted by the generator must cluster together
    clustered, total = 0, 0
    for canon, aliases in {**PERSONS, **ORGS}.items():
        present = [a for a in aliases if a in cmap]
        if len(present) >= 2:
            total += 1
            if len({cmap[a] for a in present}) == 1:
                clustered += 1
    assert total > 0
    assert clustered / total >= 0.6, f"alias clustering {clustered}/{total}"


def test_edges_resolved_with_hashes(spark, work_dir, first_run):
    edges = spark.read.parquet(f"{work_dir}/stages/edges")
    assert edges.count() > 0
    bad = edges.filter(
        ~F.col("element_id").rlike("^[a-f0-9]{64}$")
        | ~F.col("start_node_content_hash").rlike("^[a-f0-9]{64}$")
    ).count()
    assert bad == 0
    preds = {r["label"] for r in edges.select("label").distinct().collect()}
    assert preds <= {
        "WORKS_FOR", "FOUNDED", "BORN_IN", "HEADQUARTERED_IN",
        "KNOWS", "ACQUIRED", "LOCATED_IN",
    }


def test_resume_skips_completed_stages(spark, work_dir, first_run):
    pages = pages_spark_df(spark, N_DOCS, seed=SEED, partitions=4)
    pipe = PagesPipeline(
        spark, work_dir, GAZETTEER, RELATION_TEMPLATES, SURFACES, resume=True
    )
    res = pipe.run(pages, fingerprint=f"synth:{N_DOCS}:{SEED}")
    assert res.stages_run == []
    assert len(res.stages_skipped) == 8


def _record_lines(path: str) -> list[str]:
    """Export record lines (metadata line dropped), ``export_id`` masked."""
    with open(path, encoding="utf-8") as f:
        export_id = json.loads(f.readline())["export_metadata"]["export_id"]
        return [line.replace(export_id, "<export_id>") for line in f]


def test_torn_ledger_entry_reruns_only_that_stage(spark, work_dir, first_run):
    """A ledger entry cut short by a crash counts as not done: the resume
    re-runs exactly that stage and the export stays the same."""
    pages = pages_spark_df(spark, N_DOCS, seed=SEED, partitions=4)

    def run():
        return PagesPipeline(
            spark, work_dir, GAZETTEER, RELATION_TEMPLATES, SURFACES, resume=True
        ).run(pages, fingerprint=f"synth:{N_DOCS}:{SEED}")

    run()  # re-baseline the ledger on the canonical run
    ledger = StageLedger(work_dir)
    export_file = ledger.read("export")["metrics"]["file"]
    lines_before = _record_lines(export_file)
    link_rows = lambda: Counter(  # noqa: E731
        tuple(r) for r in spark.read.parquet(ledger.output_path("link")).collect()
    )
    link_before = link_rows()
    entry = os.path.join(work_dir, "_ledger", "link.json")
    with open(entry, "r+", encoding="utf-8") as f:
        f.truncate(os.path.getsize(entry) // 2)
    assert ledger.read("link") is None

    res = run()
    assert res.stages_run == ["link"]
    assert ledger.read("link") is not None
    assert link_rows() == link_before
    assert _record_lines(export_file) == lines_before


def _canonical_run(spark, work_dir):
    pages = pages_spark_df(spark, N_DOCS, seed=SEED, partitions=4)
    return PagesPipeline(
        spark, work_dir, GAZETTEER, RELATION_TEMPLATES, SURFACES, resume=True
    ).run(pages, fingerprint=f"synth:{N_DOCS}:{SEED}")


def test_side_branch_error_raised_after_critical_path(
    spark, work_dir, first_run, monkeypatch
):
    """A failing side branch (canonicalize) does not stop the critical path:
    ``run`` raises its error at the join, every other stage is recorded,
    the failed one is not, and a resume re-runs exactly that stage."""
    _canonical_run(spark, work_dir)  # re-baseline the ledger
    ledger = StageLedger(work_dir)
    export_lines = lambda: _record_lines(ledger.read("export")["metrics"]["file"])  # noqa: E731
    lines_before = export_lines()
    # the critical-path stages that overlap canonicalize re-run beside it
    for stage in ("canonicalize", "link", "nodes", "edges", "export"):
        ledger.invalidate(stage)

    def broken(*args, **kwargs):
        raise RuntimeError("injected canonicalize failure")

    monkeypatch.setattr(pages_pipeline, "canonicalize_surfaces", broken)
    with pytest.raises(RuntimeError, match="injected canonicalize failure"):
        _canonical_run(spark, work_dir)
    assert ledger.read("canonicalize") is None
    for stage in STAGES:
        if stage != "canonicalize":
            assert ledger.read(stage) is not None, stage
    assert export_lines() == lines_before

    monkeypatch.undo()
    res = _canonical_run(spark, work_dir)
    assert res.stages_run == ["canonicalize"]
    assert export_lines() == lines_before


def test_side_branch_jobs_inherit_job_group(spark, work_dir, first_run):
    """The side branches' jobs, run on pool threads, carry the caller's job
    group: the run starts no job outside it."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    drain = sc._jsc.sc().listenerBus().waitUntilEmpty
    _canonical_run(spark, work_dir)  # re-baseline the ledger
    ledger = StageLedger(work_dir)
    ledger.invalidate("triples")
    ledger.invalidate("canonicalize")
    group = "test_pages_pipeline.side_branches"
    drain()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "pipeline with side branches invalidated")
    try:
        res = _canonical_run(spark, work_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    drain()
    assert res.stages_run == ["triples", "canonicalize"]
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped_before == set()
    assert tracker.getJobIdsForGroup(group)


def test_canonicalize_loop_leaves_session_conf_alone(spark, tmp_path, monkeypatch):
    """With the canonicalize branch's CC loop running (its contracted seed
    is not the fixpoint) beside the critical path, nothing sets the
    session's shuffle partitions, and link/nodes keep the partition counts
    they get with no canonicalize beside them."""
    import datetime as dt
    import random

    from pyspark.sql.conf import RuntimeConfig

    # one alias chain: 20-letter windows of a random string, 5 letters
    # apart, so only neighbours pass the 40% trigram Jaccard threshold;
    # spread over uncoalesced shuffle partitions, the partition-local
    # stars disagree and the loop has to run
    rng = random.Random(5)
    seq = "".join(rng.choice("bcdfghjklmnpqrstvwxz") for _ in range(80))
    chain = [seq[i:i + 20].capitalize() for i in range(0, 60, 5)]
    gazetteer = {**GAZETTEER, **{s: ("Organization", s) for s in chain}}
    ts = dt.datetime(2024, 1, 1)
    chain_pages = spark.createDataFrame(
        [
            (f"https://chain.example/{i}", ts,
             f"<html><body><p>{a} met {b}.</p></body></html>".encode(),
             f"{a} met {b}.", "en")
            for i, (a, b) in enumerate(zip(chain, chain[1:]))
        ],
        schema=PAGES_DDL,
    )
    pages = pages_spark_df(spark, 40, seed=SEED, partitions=4).unionByName(chain_pages)
    work_dir = str(tmp_path)

    def run():
        return PagesPipeline(
            spark, work_dir, gazetteer, RELATION_TEMPLATES, SURFACES, resume=True
        ).run(pages, fingerprint="chain")

    rounds = []
    real_cc = canonicalize.connected_components

    def recording_cc(*args, **kwargs):
        res = real_cc(*args, **kwargs)
        rounds.append(res.iterations)
        return res

    shuffle_sets = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        if key == "spark.sql.shuffle.partitions":
            shuffle_sets.append(value)
        return real_set(self, key, value)

    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    old_coalesce = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try:
        monkeypatch.setattr(canonicalize, "connected_components", recording_cc)
        monkeypatch.setattr(RuntimeConfig, "set", recording_set)
        beside = run()
        monkeypatch.undo()
        # baseline: the same stages with canonicalize already done
        ledger = StageLedger(work_dir)
        for stage in ("link", "nodes", "edges", "export"):
            ledger.invalidate(stage)
        alone = run()
    finally:
        spark.conf.set(coalesce, old_coalesce)

    assert len(beside.stages_run) == 8
    assert rounds and rounds[0] >= 1, rounds
    assert shuffle_sets == []
    assert alone.stages_run == ["link", "nodes", "edges", "export"]
    for stage in ("link", "nodes"):
        assert len(beside.metrics[stage]["partition_rows"]) == len(
            alone.metrics[stage]["partition_rows"]
        ), stage


def test_invalidated_stage_recomputes(spark, work_dir, first_run):
    ledger = StageLedger(work_dir)
    ledger.invalidate("triples")
    pages = pages_spark_df(spark, N_DOCS, seed=SEED, partitions=4)
    pipe = PagesPipeline(
        spark, work_dir, GAZETTEER, RELATION_TEMPLATES, SURFACES, resume=True
    )
    res = pipe.run(pages, fingerprint=f"synth:{N_DOCS}:{SEED}")
    assert "triples" in res.stages_run
    assert "extract" in res.stages_skipped


def test_different_fingerprint_invalidates(spark, work_dir, first_run):
    pages = pages_spark_df(spark, N_DOCS, seed=SEED, partitions=4)
    pipe = PagesPipeline(
        spark, work_dir, GAZETTEER, RELATION_TEMPLATES, SURFACES, resume=True
    )
    res = pipe.run(pages, fingerprint="other-input")
    assert len(res.stages_run) == 8


def test_export_stage_writes_reference_format(work_dir, first_run):
    entry = first_run.metrics["export"]
    assert os.path.exists(entry["file"])
    with open(entry["file"], encoding="utf-8") as f:
        first = json.loads(f.readline())
    assert first["format_version"] == "1.0.0"
    assert first["database_statistics"]["nodeCount"] + first[
        "database_statistics"
    ]["relCount"] == entry["rows"]


def test_ledger_metrics_on_disk(work_dir, first_run):
    with open(f"{work_dir}/_ledger/extract.json", encoding="utf-8") as f:
        entry = json.load(f)
    assert entry["metrics"]["rows"] == N_DOCS
    assert entry["metrics"]["seconds"] > 0


def test_changed_config_invalidates_dependent_stages(spark, work_dir, first_run):
    """A resumed run with a changed gazetteer must recompute the stages
    whose upstream closure consumed it (mentions/canonicalize/link/nodes/
    edges/export) while still skipping config-independent ones (extract;
    triples depends only on templates)."""
    pages = pages_spark_df(spark, N_DOCS, seed=SEED, partitions=4)
    # re-baseline: earlier tests rewrite ledger entries with foreign
    # fingerprints; restore the canonical-run ledger first
    PagesPipeline(
        spark, work_dir, GAZETTEER, RELATION_TEMPLATES, SURFACES, resume=True
    ).run(pages, fingerprint=f"synth:{N_DOCS}:{SEED}")
    gaz2 = dict(GAZETTEER)
    gaz2["Spark Harbor"] = ("Place", "Spark Harbor")
    pipe = PagesPipeline(
        spark, work_dir, gaz2, RELATION_TEMPLATES, SURFACES, resume=True
    )
    res = pipe.run(pages, fingerprint=f"synth:{N_DOCS}:{SEED}")
    assert "extract" in res.stages_skipped
    assert "triples" in res.stages_skipped
    for stage in ["mentions", "canonicalize", "link", "nodes", "edges", "export"]:
        assert stage in res.stages_run, stage


def test_pipeline_performance_trend(first_run):
    perf = first_run.performance
    assert perf is not None
    assert perf["strategy"] == "stage_ledger"
    assert perf["total_batches"] == len(first_run.stages_run)
    assert perf["performance_trend"] in {
        "constant", "linear", "exponential", "insufficient_data",
    }


def test_ledger_records_stage_schedule(first_run):
    """Each stage's span (offsets from the start of ``run``) respects the
    stage graph's dependency edges."""
    m = first_run.metrics
    for stage in STAGES:
        assert 0 <= m[stage]["started_s"] <= m[stage]["ended_s"], stage
    end = {stage: m[stage]["ended_s"] for stage in STAGES}
    assert m["mentions"]["started_s"] >= end["extract"]
    assert m["triples"]["started_s"] >= end["extract"]
    assert m["canonicalize"]["started_s"] >= end["mentions"]
    assert m["link"]["started_s"] >= end["mentions"]
    assert m["nodes"]["started_s"] >= end["link"]
    assert m["edges"]["started_s"] >= max(end["triples"], end["nodes"])
    assert m["export"]["started_s"] >= end["edges"]
