"""Full pages pipeline: end-to-end correctness, resumability, triple P/R,
stages that overlap and a run that fails part-way."""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from neo4j_export_tool_spark.plans import pages_pipeline
from neo4j_export_tool_spark.plans.pages_pipeline import PagesPipeline, StageLedger
from neo4j_export_tool_spark.sources.synth import (
    GAZETTEER,
    ORGS,
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
    pipe = PagesPipeline(spark, work_dir, GAZETTEER, RELATION_TEMPLATES, SURFACES)
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
    pipe = PagesPipeline(spark, work_dir, GAZETTEER, RELATION_TEMPLATES, SURFACES)
    res = pipe.run(pages, fingerprint=f"synth:{N_DOCS}:{SEED}")
    assert res.stages_run == []
    assert len(res.stages_skipped) == 8
    # a second run of the same pipeline reports its own stages only
    again = pipe.run(pages, fingerprint=f"synth:{N_DOCS}:{SEED}")
    assert again is not res
    assert (again.stages_run, len(again.stages_skipped)) == ([], 8)


def test_invalidated_stage_recomputes(spark, work_dir, first_run):
    ledger = StageLedger(work_dir)
    ledger.invalidate("triples")
    pages = pages_spark_df(spark, N_DOCS, seed=SEED, partitions=4)
    pipe = PagesPipeline(spark, work_dir, GAZETTEER, RELATION_TEMPLATES, SURFACES)
    res = pipe.run(pages, fingerprint=f"synth:{N_DOCS}:{SEED}")
    assert "triples" in res.stages_run
    assert "extract" in res.stages_skipped


def test_different_fingerprint_invalidates(spark, work_dir, first_run):
    pages = pages_spark_df(spark, N_DOCS, seed=SEED, partitions=4)
    pipe = PagesPipeline(spark, work_dir, GAZETTEER, RELATION_TEMPLATES, SURFACES)
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


def test_export_ledger_records_sort_decision(work_dir, first_run):
    """The export stage's ledger entry carries the sink's sort path and the
    line bytes that decided it; the file's metadata line does not."""
    with open(f"{work_dir}/_ledger/export.json", encoding="utf-8") as f:
        entry = json.load(f)["metrics"]
    with open(entry["file"], "rb") as f:
        meta_line = f.readline()
        body = f.read()
    # a few hundred pages fit one advisory partition (64 MB by default)
    assert entry["sort_path"] == "one_partition"
    assert entry["line_bytes"] == len(body) > 0  # no warning/error tail here
    assert b"sort_path" not in meta_line and b"line_bytes" not in meta_line


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
    PagesPipeline(spark, work_dir, GAZETTEER, RELATION_TEMPLATES, SURFACES).run(
        pages, fingerprint=f"synth:{N_DOCS}:{SEED}"
    )
    gaz2 = dict(GAZETTEER)
    gaz2["Spark Harbor"] = ("Place", "Spark Harbor")
    pipe = PagesPipeline(spark, work_dir, gaz2, RELATION_TEMPLATES, SURFACES)
    res = pipe.run(pages, fingerprint=f"synth:{N_DOCS}:{SEED}")
    assert "extract" in res.stages_skipped
    assert "triples" in res.stages_skipped
    for stage in ["mentions", "canonicalize", "link", "nodes", "edges", "export"]:
        assert stage in res.stages_run, stage


STAGES = ["extract", "mentions", "triples", "canonicalize", "link", "nodes", "edges", "export"]
RERUN = {
    "none": [],
    "gazetteer": ["mentions", "canonicalize", "link", "nodes", "edges", "export"],
    "templates": ["triples", "edges", "export"],
    "fingerprint": STAGES,
}


@pytest.mark.parametrize("change", list(RERUN))
def test_resume_matrix(spark, work_dir, first_run, change):
    """Exactly the stages downstream of a change rerun, in declaration
    order: a stage's fingerprint follows from its own config digests and
    its inputs' fingerprints."""
    pages = pages_spark_df(spark, N_DOCS, seed=SEED, partitions=4)
    fp = f"synth:{N_DOCS}:{SEED}"
    # re-baseline: earlier tests leave ledger entries of other configs
    PagesPipeline(spark, work_dir, GAZETTEER, RELATION_TEMPLATES, SURFACES).run(pages, fp)
    gaz = {**GAZETTEER, "Spark Harbor": ("Place", "Spark Harbor")}
    res = PagesPipeline(
        spark,
        work_dir,
        gaz if change == "gazetteer" else GAZETTEER,
        RELATION_TEMPLATES[:-1] if change == "templates" else RELATION_TEMPLATES,
        SURFACES,
    ).run(pages, "other-input" if change == "fingerprint" else fp)
    assert res.stages_run == RERUN[change]
    assert res.stages_skipped == [s for s in STAGES if s not in RERUN[change]]


def test_ledger_metrics_match_written_stages(spark, tmp_path):
    """The ledger's footer-read metrics equal what Spark reads back, the
    stage DataFrame read with the known schema equals the inferred one, and
    a resumed run still skips every stage."""

    class Recording(PagesPipeline):
        def _run_stage(self, stage, fingerprint, load):
            df = super()._run_stage(stage, fingerprint, load)
            if df is not None:
                returned[stage.name] = df
            return df

    returned = {}
    pages = pages_spark_df(spark, N_DOCS, seed=SEED, partitions=4)
    fp = f"synth:{N_DOCS}:{SEED}"
    work = str(tmp_path)
    res = Recording(spark, work, GAZETTEER, RELATION_TEMPLATES, SURFACES).run(pages, fp)
    ledger = StageLedger(work)
    assert set(returned) == set(res.stages_run) - {"export"}
    for stage, df in returned.items():
        m = res.metrics[stage]
        inferred = spark.read.parquet(ledger.output_path(stage))
        assert m["rows"] == inferred.count(), stage
        assert sum(m["partition_rows"]) == m["rows"], stage
        assert df.schema == inferred.schema, stage
        assert ledger.read(stage)["metrics"] == m
    again = PagesPipeline(spark, work, GAZETTEER, RELATION_TEMPLATES, SURFACES).run(
        pages, fp
    )
    assert again.stages_run == []
    assert again.stages_skipped == res.stages_run


def test_pipeline_performance_trend(first_run):
    perf = first_run.performance
    assert perf is not None
    assert perf["strategy"] == "stage_ledger"
    assert perf["total_batches"] == len(first_run.stages_run)
    assert perf["performance_trend"] in {
        "constant", "linear", "exponential", "insufficient_data",
    }


def test_ledger_reads_truncated_entry_as_missing(tmp_path):
    """An entry cut short by a crash mid-write reads as missing, so a resumed
    run re-runs the stage instead of failing; a rewrite replaces it whole."""
    ledger = StageLedger(str(tmp_path))
    os.makedirs(ledger.output_path("triples"))
    open(os.path.join(ledger.output_path("triples"), "_SUCCESS"), "w").close()
    ledger.mark_done("triples", "fp", {"rows": 3, "seconds": 0.5})
    assert ledger.is_done("triples", "fp")
    path = tmp_path / "_ledger" / "triples.json"
    whole = path.read_bytes()
    path.write_bytes(whole[: len(whole) // 2])
    assert ledger.read("triples") is None
    assert not ledger.is_done("triples", "fp")
    ledger.mark_done("triples", "fp", {"rows": 3, "seconds": 0.5})
    assert path.read_bytes() == whole
    assert os.listdir(tmp_path / "_ledger") == ["triples.json"]


def _export_body(result) -> bytes:
    """The export file without its metadata line (export timestamp and
    timings), with the run's random export id masked on every line."""
    with open(result.metrics["export"]["file"], "rb") as f:
        export_id = json.loads(f.readline())["export_metadata"]["export_id"].encode()
        return f.read().replace(export_id, b"<export_id>")


@pytest.fixture(scope="module")
def overlap_run(spark, tmp_path_factory):
    """A clean run in which ``canonicalize`` waits for ``link`` to start.
    Both read only ``mentions``, so a runner that starts each stage when
    its inputs are done lets it through; one that runs the stages in
    declaration order reaches ``link`` only after the wait timed out."""
    link_started = threading.Event()
    seen = {}
    canonicalize, link = pages_pipeline.canonicalize_surfaces, pages_pipeline.link_mentions

    def waiting_canonicalize(*args, **kwargs):
        seen["link_started"] = link_started.wait(timeout=30)
        return canonicalize(*args, **kwargs)

    def signalling_link(*args, **kwargs):
        link_started.set()
        return link(*args, **kwargs)

    pages = pages_spark_df(spark, N_DOCS, seed=SEED, partitions=4)
    work = str(tmp_path_factory.mktemp("overlap"))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(pages_pipeline, "canonicalize_surfaces", waiting_canonicalize)
        mp.setattr(pages_pipeline, "link_mentions", signalling_link)
        res = PagesPipeline(spark, work, GAZETTEER, RELATION_TEMPLATES, SURFACES).run(
            pages, f"synth:{N_DOCS}:{SEED}"
        )
    return res, seen


def test_independent_stages_overlap(overlap_run):
    res, seen = overlap_run
    assert seen["link_started"]
    assert res.stages_run == STAGES
    canon, link = res.metrics["canonicalize"], res.metrics["link"]
    assert link["start_s"] <= canon["start_s"] + canon["seconds"]
    assert canon["start_s"] <= link["start_s"] + link["seconds"]
    for stage, m in res.metrics.items():
        assert 0 <= m["start_s"] <= m["start_s"] + m["seconds"] <= res.wall_s + 0.002, stage


def test_failed_stage_stops_run_and_resume_completes_it(spark, tmp_path, overlap_run):
    """Two stages fail, ``link`` first: the run raises the error of the one
    declared first (``canonicalize``), starts nothing after the failures,
    lets ``triples`` (already running) finish, and marks no stage that
    reads a failed one as done.  A second run with the real operators runs
    only the missing stages and exports the bytes of a clean run."""
    link_failed = threading.Event()

    def failing_canonicalize(*args, **kwargs):
        link_failed.wait(timeout=30)
        raise RuntimeError("canonicalize failed")

    def failing_link(*args, **kwargs):
        link_failed.set()
        raise RuntimeError("link failed")

    pages = pages_spark_df(spark, N_DOCS, seed=SEED, partitions=4)
    fp = f"synth:{N_DOCS}:{SEED}"
    work = str(tmp_path)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(pages_pipeline, "canonicalize_surfaces", failing_canonicalize)
        mp.setattr(pages_pipeline, "link_mentions", failing_link)
        with pytest.raises(RuntimeError, match="canonicalize failed"):
            PagesPipeline(spark, work, GAZETTEER, RELATION_TEMPLATES, SURFACES).run(pages, fp)
    ledger = StageLedger(work)
    assert [s for s in STAGES if ledger.read(s) is not None] == [
        "extract", "mentions", "triples",
    ]
    res = PagesPipeline(spark, work, GAZETTEER, RELATION_TEMPLATES, SURFACES).run(pages, fp)
    assert res.stages_skipped == ["extract", "mentions", "triples"]
    assert res.stages_run == ["canonicalize", "link", "nodes", "edges", "export"]
    assert _export_body(res) == _export_body(overlap_run[0])
