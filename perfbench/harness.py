"""End-to-end benchmark of ``plans.pages_pipeline.PagesPipeline.run``.

One process and one ``local[nproc]`` Spark session, as a batch job runs
it.  Set-up starts the session, generates the workload's pages from
``--seed``, writes them as parquet under ``.perfbench_work/`` and starts
one Python worker per core.  The timed part is cold runs until
``--seconds`` have passed, at least one: each in a fresh work dir, all 8
stages, timed from the ``run`` call to the complete JSONL export.  The
first is the session's first pipeline run, so it includes the JIT
compilation every fresh batch job pays; a warm-up run before it would not
fit the benchmark's time budget.  A run takes longer than the
``run_seconds`` BENCHMARK.json passes, so the benchmark measures exactly
that first run; a longer ``--seconds`` adds warm runs to the median.

Every run's export must equal the first's (SHA-256 of the record lines,
the random ``export_id`` masked).  After the timed runs the first is
checked: triple precision and recall against the generator's planted
oracle, and the node and relationship counts read back by
``sources.jsonl_source`` against the counts the export stage recorded.  A
run that raises or fails a check counts in ``failed``.

``--trace 1`` then adds a traced pass, after another untraced cold run in
the now warm session that is its baseline.  It measures each stage from
outside: for each stage S it invalidates S in the ledger and resumes
inside job group S, which re-runs exactly S; the group's Spark cost comes
from the status store.  It also times canonicalization's two halves
(alias pairs, connected components) on the ``mentions`` output, and reads
waste ratios from the stage outputs.  End-to-end numbers always come from
untraced runs.

The last line of standard output is the result; the line before it holds
the environment, input and output digests and the per-run figures.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import gen
import probes

ROOT = Path(__file__).resolve().parents[1]

STAGES = [
    "extract", "mentions", "triples", "canonicalize", "link", "nodes", "edges", "export",
]
# PagesPipeline.run calls canonicalize_surfaces with these
CANON_THRESHOLD_PCT = 40
CANON_MAX_ITERATIONS = 15
MIN_PR = 0.95
SPAN_SUM_TOLERANCE = 0.05


@dataclass(frozen=True)
class Workload:
    corpus: str  # "narrow" or "wide"
    pages: int
    entities: int  # wide gazetteer size; narrow uses the library's 58 surfaces
    partitions: int
    why: str


WORKLOADS = {
    "narrow_cold": Workload(
        "narrow", 12_000, 0, 8,
        "closed 58-surface gazetteer, 12k pages: per-page UDF stages and the export "
        "sink grow with pages, vocabulary-sized stages stay at their fixed per-job cost",
    ),
    "wide_cold": Workload(
        "wide", 8_000, 2_000, 8,
        "~3,700 Zipf-drawn surfaces, 8k pages: triples, canonicalize and link grow with "
        "vocabulary; 20-syllable names (canonicalize >12 min) are a robustness case left out",
    ),
}
SMOKE = {"narrow_cold": (200, 0), "wide_cold": (200, 60)}

# per-layer metric name suffix -> (unit, better)
STAGE_METRICS = {
    "wall_s": ("s", "lower"),
    "cpu_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "idle_core_frac": ("ratio", "lower"),
    "shuffle_write_bytes": ("B", "lower"),
    "shuffle_read_bytes": ("B", "lower"),
    "spill_bytes": ("B", "lower"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "rows_out": ("rows", "higher"),
}
EXTRA_LAYER_METRICS = {
    "canonicalize.alias_pairs.wall_s": ("s", "lower"),
    "canonicalize.alias_pairs.rows_out": ("rows", "lower"),
    "canonicalize.cc.wall_s": ("s", "lower"),
    "canonicalize.cc.jobs": ("count", "lower"),
    "canonicalize.cc.rounds": ("count", "lower"),
    "link.linked_ratio": ("ratio", "higher"),
    "edges.triple_yield": ("ratio", "higher"),
    "canonicalize.surfaces_per_cluster": ("ratio", "higher"),
    "export.bytes_per_record": ("B", "lower"),
    "pipeline.warm_wall_s": ("s", "lower"),
    "pipeline.resume_noop_s": ("s", "lower"),
    "pipeline.unattributed_s": ("s", "lower"),
    "pipeline.trace_overhead_s": ("s", "lower"),
    "pipeline.span_sum_frac": ("ratio", "lower"),
    "pipeline.peak_rss_mb": ("MB", "lower"),
    "host.control_s": ("s", "lower"),
    "host.steal_frac": ("ratio", "lower"),
}
END_TO_END = {
    "wall_s": "s",
    "triples_per_s": "1/s",
    "export_records_per_s": "1/s",
    "setup_s": "s",
}


def per_layer_units() -> dict[str, tuple[str, str]]:
    out = {f"{s}.{m}": spec for s in STAGES for m, spec in STAGE_METRICS.items()}
    out.update(EXTRA_LAYER_METRICS)
    return out


def tail_percentile(values: list[float]) -> tuple[int, float] | None:
    """Highest whole percentile with at least ten samples above it."""
    n = len(values)
    if n < 20:
        return None
    p = math.floor(100 * (1 - 10 / n))
    return p, statistics.quantiles(values, n=100, method="inclusive")[p - 1]


@dataclass
class RunOutcome:
    work_dir: str
    wall_s: float
    triples: int
    nodes: int
    rels: int
    export_file: str
    digest: str
    stage_s: dict  # ledger seconds of the stages this run ran
    steal_s: float  # CPU time stolen from the host during the run


@dataclass
class Bench:
    spark: object
    workload: str
    seed: int
    work: Path
    pages: object = None
    corpus: object = None
    fingerprint: str = ""
    info: dict = field(default_factory=dict)

    # -- inputs -------------------------------------------------------------

    def make_inputs(self, n_pages: int, n_entities: int, partitions: int) -> None:
        wl = WORKLOADS[self.workload]
        if wl.corpus == "narrow":
            rows, self.corpus = gen.narrow_corpus(n_pages, self.seed)
        else:
            rows, self.corpus = gen.wide_corpus(n_pages, n_entities, self.seed)
        path = self.work / "pages"
        gen.write_pages(self.spark, rows, str(path), partitions)
        self.pages = self.spark.read.parquet(str(path))
        digest = gen.input_digest(rows)
        self.fingerprint = f"{self.workload}:{n_pages}:{self.seed}:{digest[:16]}"
        self.info["input"] = {
            "rows": n_pages,
            "bytes": sum(p.stat().st_size for p in path.glob("*.parquet")),
            "sha256": digest,
            "gazetteer_surfaces": len(self.corpus.gazetteer),
            "oracle_triples": len(self.corpus.oracle),
        }

    # -- pipeline runs --------------------------------------------------------

    def pipeline(self, work_dir: str):
        from neo4j_export_tool_spark.plans.pages_pipeline import PagesPipeline
        from neo4j_export_tool_spark.sources.synth import RELATION_TEMPLATES

        return PagesPipeline(
            self.spark, work_dir, self.corpus.gazetteer, RELATION_TEMPLATES,
            self.corpus.surfaces_by_label, resume=True,
        )

    def cold_run(self, name: str) -> RunOutcome:
        work_dir = str(self.work / name)
        pipe = self.pipeline(work_dir)
        steal0 = probes.steal_s()
        t0 = time.perf_counter()
        result = pipe.run(self.pages, self.fingerprint)
        wall = time.perf_counter() - t0
        steal = probes.steal_s() - steal0
        if result.stages_run != STAGES:
            raise RuntimeError(f"cold run ran {result.stages_run}")
        export = result.metrics["export"]
        nodes, rels = export["partition_rows"]
        digest, n_lines = probes.export_digest(export["file"])
        if n_lines != nodes + rels:
            raise RuntimeError(f"export has {n_lines} record lines, ledger says {nodes + rels}")
        return RunOutcome(
            work_dir, wall, result.metrics["triples"]["rows"], nodes, rels, export["file"],
            digest, {k: v["seconds"] for k, v in result.metrics.items()}, steal,
        )

    # -- checks outside the timed region ------------------------------------

    def check_outputs(self, run: RunOutcome) -> list[str]:
        from neo4j_export_tool_spark.sources.jsonl_source import read_jsonl_export

        problems = []
        got = {
            (r[0], r[1], r[2], r[3])
            for r in self.spark.read.parquet(f"{run.work_dir}/stages/triples")
            .select("url", "subj_surface", "pred", "obj_surface")
            .collect()
        }
        tp = len(got & self.corpus.oracle)
        precision = tp / max(len(got), 1)
        recall = tp / max(len(self.corpus.oracle), 1)
        self.info["triple_pr"] = {"precision": precision, "recall": recall}
        if precision < MIN_PR or recall < MIN_PR:
            problems.append(f"triple P/R {precision:.4f}/{recall:.4f} below {MIN_PR}")
        imported = read_jsonl_export(self.spark, run.export_file)
        counts = (imported.nodes.count(), imported.edges.count())
        if counts != (run.nodes, run.rels):
            problems.append(f"read back {counts}, export recorded {(run.nodes, run.rels)}")
        return problems

    # -- traced pass ----------------------------------------------------------

    def traced_pass(self, cold_digest: str) -> dict[str, float]:
        """Per-stage numbers against a second, untraced cold run in the
        same (now warm) session, whose wall time is the baseline."""
        base = self.cold_run("traced")
        if base.digest != cold_digest:
            raise RuntimeError("the traced pass's baseline run changed the export")
        sc = self.spark.sparkContext
        cores = sc.defaultParallelism
        metrics: dict[str, float] = {}
        spans = 0.0
        t_pass = time.perf_counter()
        for stage in STAGES:
            pipe = self.pipeline(base.work_dir)
            pipe.ledger.invalidate(stage)
            group = f"perfbench.{stage}"
            sc.setJobGroup(group, f"perfbench stage {stage}")
            t0 = time.perf_counter()
            result = pipe.run(self.pages, self.fingerprint)
            wall = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            if result.stages_run != [stage]:
                raise RuntimeError(f"re-running {stage} ran {result.stages_run}")
            cost = probes.group_cost(self.spark, group)
            spans += wall
            metrics.update({
                f"{stage}.wall_s": wall,
                f"{stage}.cpu_s": cost.cpu_s,
                f"{stage}.gc_s": cost.gc_s,
                f"{stage}.idle_core_frac": 1 - cost.run_s / (wall * cores),
                f"{stage}.shuffle_write_bytes": cost.shuffle_write_bytes,
                f"{stage}.shuffle_read_bytes": cost.shuffle_read_bytes,
                f"{stage}.spill_bytes": cost.spill_bytes,
                f"{stage}.jobs": cost.jobs,
                f"{stage}.tasks": cost.tasks,
                f"{stage}.rows_out": result.metrics[stage]["rows"],
            })
        traced_total = time.perf_counter() - t_pass
        if probes.export_digest(result.metrics["export"]["file"])[0] != base.digest:
            raise RuntimeError("the traced pass changed the export")
        # what a span spends reading the other stages back from the ledger
        t0 = time.perf_counter()
        noop = self.pipeline(base.work_dir).run(self.pages, self.fingerprint)
        metrics["pipeline.resume_noop_s"] = time.perf_counter() - t0
        if noop.stages_run:
            raise RuntimeError(f"a full resume ran {noop.stages_run}")
        metrics["pipeline.warm_wall_s"] = base.wall_s
        metrics["pipeline.unattributed_s"] = base.wall_s - spans
        metrics["pipeline.trace_overhead_s"] = traced_total - base.wall_s
        metrics["pipeline.span_sum_frac"] = spans / base.wall_s
        self.info["span_sum_within_5pct"] = abs(spans / base.wall_s - 1) <= SPAN_SUM_TOLERANCE
        metrics.update(self.canonicalize_sublayers(base))
        metrics.update(self.waste_ratios(base))
        return metrics

    def canonicalize_sublayers(self, run: RunOutcome) -> dict[str, float]:
        from neo4j_export_tool_spark.operators.canonicalize import surface_alias_pairs
        from neo4j_export_tool_spark.operators.components import connected_components

        sc = self.spark.sparkContext
        mentions = self.spark.read.parquet(f"{run.work_dir}/stages/mentions")
        distinct = mentions.select("surface").distinct()
        sc.setJobGroup("perfbench.canonicalize.alias_pairs", "alias pairs")
        t0 = time.perf_counter()
        pairs = surface_alias_pairs(distinct, "surface", CANON_THRESHOLD_PCT).localCheckpoint()
        n_pairs = pairs.count()
        pairs_s = time.perf_counter() - t0
        sc.setJobGroup("perfbench.canonicalize.cc", "connected components")
        t0 = time.perf_counter()
        cc = connected_components(
            pairs, src="surface_a", dst="surface_b", max_iterations=CANON_MAX_ITERATIONS
        )
        cc.components.count()
        cc_s = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        return {
            "canonicalize.alias_pairs.wall_s": pairs_s,
            "canonicalize.alias_pairs.rows_out": n_pairs,
            "canonicalize.cc.wall_s": cc_s,
            "canonicalize.cc.jobs": probes.group_cost(self.spark, "perfbench.canonicalize.cc").jobs,
            "canonicalize.cc.rounds": cc.iterations,
        }

    def waste_ratios(self, run: RunOutcome) -> dict[str, float]:
        from pyspark.sql import functions as F

        read = lambda stage: self.spark.read.parquet(f"{run.work_dir}/stages/{stage}")  # noqa: E731
        link = read("link").agg(
            F.count(F.lit(1)).alias("n"), F.count("kb_id").alias("linked")
        ).collect()[0]
        canon = read("canonicalize").agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("canonical_surface").alias("clusters"),
        ).collect()[0]
        return {
            "link.linked_ratio": link["linked"] / link["n"],
            "edges.triple_yield": run.rels / run.triples,
            "canonicalize.surfaces_per_cluster": canon["n"] / canon["clusters"],
            "export.bytes_per_record": os.path.getsize(run.export_file) / (run.nodes + run.rels),
        }


def _configure_environment(work: Path, cpus: int) -> dict[str, str]:
    """Keep every file Spark, the JVM and the package write inside the
    checkout; returns the Spark conf the session needs for it."""
    tmp = work / "tmp"
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    cache_home = ROOT / ".perfbench_cache"  # compiled codec jar, kept between runs
    for d in (tmp, cache_home):
        d.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "TMPDIR": str(tmp),
        "HOME": str(cache_home),
        "SPARK_LOCAL_DIRS": str(tmp),
        "SPARK_GRAFT_WAREHOUSE": str(work / "warehouse"),
        "SPARK_GRAFT_CPUS": str(cpus),
        # the package's default is 8g, with which the JVM grew to 5-7 GB RSS
        # and runs spread wider; 2g keeps the whole tree near 3 GB
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        # the short-lived JVM spark-submit runs to build the driver command
        "SPARK_LAUNCHER_OPTS": java_opts,
    })
    return {"spark.driver.extraJavaOptions": java_opts}


def _attempt(fn, *args):
    """(result, None) or (None, error); a failed run is counted, not fatal."""
    try:
        return fn(*args), None
    except Exception as exc:  # noqa: BLE001 - one run's failure is a data point
        traceback.print_exc(file=sys.stderr)
        return None, f"{type(exc).__name__}: {exc}"


def run_benchmark(args: argparse.Namespace, work: Path) -> int:
    from neo4j_export_tool_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    conf = _configure_environment(work, cpus)
    wl = WORKLOADS[args.workload]
    n_pages, n_entities = SMOKE[args.workload] if args.smoke else (wl.pages, wl.entities)

    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{cpus}]", extra_conf=conf)
    session_s = time.perf_counter() - t0
    try:
        bench = Bench(spark, args.workload, args.seed, work)
        t0 = time.perf_counter()
        bench.make_inputs(n_pages, n_entities, wl.partitions)
        inputs_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        probes.start_python_workers(spark)
        workers_s = time.perf_counter() - t0
        control_before, control_answer = probes.host_control(spark)

        errors: list[str] = []
        runs: list[RunOutcome] = []
        attempted = failed = 0
        t_window = time.perf_counter()
        while attempted == 0 or time.perf_counter() - t_window < args.seconds:
            attempted += 1
            run, err = _attempt(bench.cold_run, f"run{attempted}")
            if run is not None and runs and run.digest != runs[0].digest:
                run, err = None, "export differs from the first run's"
            if run is None:
                errors.append(f"run {attempted}: {err}")
                failed += 1
            else:
                runs.append(run)
        peak_rss_mb = probes.tree_peak_rss_bytes(os.getpid()) / 2**20
        cold = runs[0] if runs else None

        layer_metrics: dict[str, float] = {}
        checks_s = trace_s = 0.0
        if cold is not None:
            t0 = time.perf_counter()
            problems = bench.check_outputs(cold)
            checks_s = time.perf_counter() - t0
            errors.extend(problems)
            failed += bool(problems)
            if args.trace:
                t0 = time.perf_counter()
                layer_metrics = bench.traced_pass(cold.digest)
                trace_s = time.perf_counter() - t0
        control_after, answer_after = probes.host_control(spark)
        if answer_after != control_answer:
            errors.append("host control answer changed")

        bench.info.update({
            "workload": args.workload,
            "seed": args.seed,
            "smoke": args.smoke,
            "env": probes.environment(spark, str(ROOT)),
            "export_sha256": cold and cold.digest,
            "export_records": cold and cold.nodes + cold.rels,
            "triples": cold and cold.triples,
            "setup": {"session_s": session_s, "inputs_s": inputs_s, "workers_s": workers_s},
            "peak_rss_mb": peak_rss_mb,
            "checks_s": checks_s,
            "trace_s": trace_s,
            "host_control_s": {"before": control_before, "after": control_after},
            "wall_s": [r.wall_s for r in runs],
            "wall_s_tail_percentile": tail_percentile([r.wall_s for r in runs]),
            "stage_s": [r.stage_s for r in runs],
            "steal_s": [r.steal_s for r in runs],
            "failed_ratio": failed / attempted,
            "errors": errors,
        })
        print(json.dumps({"perfbench": bench.info}), flush=True)
        if cold is None:
            print("perfbench: no successful timed run", file=sys.stderr)
            return 1

        if args.trace:
            layer_metrics["host.control_s"] = statistics.median(control_before + control_after)
            layer_metrics["pipeline.peak_rss_mb"] = peak_rss_mb
            layer_metrics["host.steal_frac"] = cold.steal_s / (cold.wall_s * cpus)
            units = per_layer_units()
            metrics = {k: {"value": layer_metrics[k], "unit": units[k][0]} for k in units}
        else:
            values = {
                "wall_s": statistics.median(r.wall_s for r in runs),
                "triples_per_s": statistics.median(r.triples / r.wall_s for r in runs),
                "export_records_per_s": statistics.median(
                    (r.nodes + r.rels) / r.wall_s for r in runs
                ),
                "setup_s": session_s + inputs_s + workers_s,
            }
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        print(json.dumps({
            "correct": not errors,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }), flush=True)
        return 0
    finally:
        spark.stop()
        _stop_jvm()


def _stop_jvm() -> None:
    """End the JVM that ``get_spark`` launched and wait for it: it exits
    when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
