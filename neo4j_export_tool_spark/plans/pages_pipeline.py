"""End-to-end KG construction over web pages, with a resumable stage ledger.

The north-star dataflow (SURVEY.md §3 'Spark lifecycle equivalent'):

    pages ─extract──► text ─mentions──► mentions ─link──► linked
                         │                 └─LSH+CC──► canonical map
                         └─triples──► triples ──────────────┤
                                                            ▼
                nodes / edges (+content hashes, J1 join) ──► parquet + JSONL

Every stage is (parquet in) → (parquet out + metrics), the export writing
its JSONL file in place of parquet; a completed stage is recorded in the
ledger (``_ledger/<stage>.json`` next to the stage output) and skipped on
re-run — the checkpoint/resume capability the reference lists as future
work (``docs/Improvements.md:158``) and the north rule requires.
Each stage is declared once (``PagesPipeline._stages``): its input stages,
the digests of the configs it reads itself (gazetteer, relation templates,
canonicalization threshold) and a compute over exactly those inputs.  Its
fingerprint hashes its own digests with its inputs' fingerprints, rooted at
the run's input fingerprint, so the upstream closure follows from the
wiring: a resumed run with different input or pipeline config invalidates
the affected stages instead of silently reusing them.

A stage starts as soon as its inputs are done, on a thread pool sized by
the stage list, so ``triples`` and the ``canonicalize`` leaf run beside the
link → nodes → edges → export chain; Spark's scheduler interleaves their
jobs, which on their own leave most of the executor cores idle.  Each
stage's Spark jobs are described ``pages_pipeline:<stage>``.  The result
(``stages_run``, ``stages_skipped``, ``metrics``) keeps declaration order
whatever order the stages finished in.

Metrics per stage: row count, start offset from the start of the run, wall
seconds, and the rows of each written part file — read from the parquet
footers, so they cost no Spark job — written into the ledger entry (the
Spark analog of the reference's per-label stats + batch-timing trackers,
``Export/Types.fs:140-216``).  An entry is written to a temp file and
renamed into place, and an unparsable entry reads as missing, so a crash
mid-write re-runs the stage instead of failing the resume.  Like the rest
of the ledger, this assumes the work dir is on a local (or locally mounted)
filesystem.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections.abc import Callable
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from typing import Any

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neo4j_export_tool_spark.operators.canonicalize import canonicalize_surfaces
from neo4j_export_tool_spark.operators.extract import extract_text_udf
from neo4j_export_tool_spark.operators.graph import (
    attach_node_hashes,
    edges_from,
    nodes_from,
    nodes_union,
)
from neo4j_export_tool_spark.operators.linking import kb_from_gazetteer, link_mentions
from neo4j_export_tool_spark.operators.mentions import (
    build_relation_patterns,
    detect_mentions,
    extract_triples,
)
from neo4j_export_tool_spark.sources.jsonl_sink import export_jsonl


# ---------------------------------------------------------------------------
# stage ledger
# ---------------------------------------------------------------------------

@dataclass
class StageLedger:
    """Records completed stages: output path + metrics + input fingerprint."""

    work_dir: str

    def _entry_path(self, stage: str) -> str:
        return os.path.join(self.work_dir, "_ledger", f"{stage}.json")

    def output_path(self, stage: str) -> str:
        return os.path.join(self.work_dir, "stages", stage)

    def read(self, stage: str) -> dict[str, Any] | None:
        """The stage's entry, or None when it is missing or unparsable (cut
        short by a crash mid-write)."""
        try:
            with open(self._entry_path(stage), encoding="utf-8") as f:
                return json.load(f)
        except (FileNotFoundError, ValueError):
            return None

    def is_done(self, stage: str, fingerprint: str) -> bool:
        entry = self.read(stage)
        return bool(
            entry
            and entry.get("fingerprint") == fingerprint
            and os.path.exists(os.path.join(self.output_path(stage), "_SUCCESS"))
        )

    def mark_done(self, stage: str, fingerprint: str, metrics: dict[str, Any]) -> None:
        path = self._entry_path(stage)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump({"fingerprint": fingerprint, "metrics": metrics}, f, indent=1)
        os.replace(tmp, path)

    def invalidate(self, stage: str) -> None:
        try:
            os.remove(self._entry_path(stage))
        except FileNotFoundError:
            pass


def _part_file_rows(out: str) -> list[int]:
    """Rows per written parquet part file, in name order, from the footers
    (no Spark job)."""
    import pyarrow.parquet as pq

    files = sorted(
        name for name in os.listdir(out)
        if name.endswith(".parquet") and not name.startswith(("_", "."))
    )
    return [pq.read_metadata(os.path.join(out, name)).num_rows for name in files]


@dataclass
class PipelineResult:
    work_dir: str
    stages_run: list[str] = field(default_factory=list)
    stages_skipped: list[str] = field(default_factory=list)
    metrics: dict[str, dict[str, Any]] = field(default_factory=dict)
    # wall seconds of the whole run; stages overlap, so this is less than
    # the sum of their ``seconds``
    wall_s: float = 0.0
    # BatchPerformanceTracker.metrics() over the stage wall times — the
    # reference's pagination_performance analog (Export/Types.fs:140-216)
    performance: dict[str, Any] | None = None


def _digest(obj: Any) -> str:
    return hashlib.sha256(
        json.dumps(obj, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]


@dataclass(frozen=True)
class _Stage:
    """One stage: the stages it reads (``pages`` is the run's input), the
    digests of the configs it reads itself, and a compute that receives
    exactly those inputs, in order.  The compute returns a DataFrame,
    which the runner writes as parquet, or (the export) the sink's result
    for the file it wrote itself."""

    name: str
    inputs: tuple[str, ...]
    digests: tuple[str, ...]
    compute: Callable[..., Any]


class PagesPipeline:
    """Configurable KG pipeline over a pages table
    (url, warc_ts, html, text, lang)."""

    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        gazetteer: dict[str, tuple[str, str]],
        relation_templates: list[tuple[str, str, str, str]],
        surfaces_by_label: dict[str, list[str]],
    ):
        self.spark = spark
        self.work_dir = work_dir
        self.gazetteer = gazetteer
        self.templates = relation_templates
        self.surfaces_by_label = surfaces_by_label
        self.ledger = StageLedger(work_dir)

    def _stages(self) -> list[_Stage]:
        """The dataflow in declaration order, the order of the ledger and
        the result.  Computes look operators up by name when they run, so a
        patched module attribute is the one called."""
        gaz = _digest(sorted(self.gazetteer.items()))
        tpl = _digest(
            [sorted(map(list, self.templates)),
             {k: sorted(v) for k, v in self.surfaces_by_label.items()}]
        )
        canon_threshold = 40
        return [
            _Stage(
                "extract", ("pages",), (),
                lambda pages: pages.select(
                    "url", "warc_ts", "lang", extract_text_udf(F.col("html")).alias("text")
                ),
            ),
            _Stage(
                "mentions", ("extract",), (gaz,),
                lambda text: detect_mentions(text, self.gazetteer),
            ),
            _Stage(
                "triples", ("extract",), (tpl,),
                lambda text: extract_triples(
                    text, build_relation_patterns(self.templates, self.surfaces_by_label)
                ),
            ),
            # a leaf: the canonical map is written for the ledger and its
            # readers; no stage consumes it yet
            _Stage(
                "canonicalize", ("mentions",), (f"threshold={canon_threshold}",),
                lambda mentions: canonicalize_surfaces(
                    mentions.select("surface"), threshold_pct=canon_threshold
                ),
            ),
            _Stage(
                "link", ("mentions",), (gaz,),
                lambda mentions: link_mentions(
                    mentions, kb_from_gazetteer(self.spark, self.gazetteer)
                ).select(
                    "url", "surface", "label", "canonical", "start", "end",
                    "kb_id", "linked_name", "link_score",
                ),
            ),
            _Stage(
                "nodes", ("link",), (),
                lambda linked: nodes_union(self._entity_nodes(linked)),
            ),
            _Stage("edges", ("triples", "link", "nodes"), (), self._build_edges),
            _Stage(
                "export", ("nodes", "edges"), (),
                lambda nodes, edges: export_jsonl(
                    nodes, edges, self.ledger.output_path("export"), db_name="pages_kg"
                ),
            ),
        ]

    # -- stage runner -------------------------------------------------------

    def _run_stage(
        self, stage: _Stage, fingerprint: str, inputs: list[DataFrame]
    ) -> DataFrame | None:
        """Compute the stage over its inputs, write it, record its metrics
        and mark it done.  Runs on a pool thread.  Returns a DataFrame over
        the written parquet, or None (the export)."""
        self.spark.sparkContext.setJobDescription(f"pages_pipeline:{stage.name}")
        out = self.ledger.output_path(stage.name)
        t0 = time.perf_counter()
        produced = stage.compute(*inputs)
        if isinstance(produced, DataFrame):
            produced.write.mode("overwrite").parquet(out)
            # the known schema skips inference (a job)
            materialized = self.spark.read.schema(produced.schema).parquet(out)
            partition_rows, extra = _part_file_rows(out), {}
        else:
            # the sink wrote its own file; add a _SUCCESS marker for the ledger
            open(os.path.join(out, "_SUCCESS"), "w").close()
            materialized = None
            partition_rows = [produced.node_count, produced.rel_count]
            extra = {
                "file": produced.path,
                "sort_path": produced.sort_path,
                "line_bytes": produced.line_bytes,
            }
        metrics = {
            "rows": sum(partition_rows),
            "start_s": round(t0 - self._t_run, 3),
            "seconds": round(time.perf_counter() - t0, 3),
            "partition_rows": partition_rows,
            **extra,
        }
        self.ledger.mark_done(stage.name, fingerprint, metrics)
        self.result.metrics[stage.name] = metrics  # one key per stage thread
        return materialized

    def run(self, pages: DataFrame, fingerprint: str) -> PipelineResult:
        """Run all stages, each as soon as its inputs are done.
        ``fingerprint``: identifies the input snapshot (e.g. corpus size +
        seed, or an Iceberg snapshot id).

        The calling thread decides skips, reads a skipped stage's output
        back when a stage that runs needs it, and submits; each submitted
        stage inherits the caller's Spark local properties and tags.  When
        a stage raises, nothing new starts, the stages already running
        finish (and are marked done), and the error of the earliest failed
        stage in declaration order is raised."""
        self.result = PipelineResult(self.work_dir)
        self._t_run = time.perf_counter()
        stages = self._stages()
        fingerprints = {"pages": fingerprint}
        for stage in stages:
            fingerprints[stage.name] = _digest(
                [stage.digests, [fingerprints[i] for i in stage.inputs]]
            )
        outputs = {"pages": pages}
        done, ran, skipped = {"pages"}, set(), set()
        failed: dict[str, BaseException] = {}
        waiting = list(stages)
        running: dict[Future, str] = {}

        def load(name: str) -> DataFrame:
            if name not in outputs:  # skipped: read what an earlier run wrote
                outputs[name] = self.spark.read.parquet(self.ledger.output_path(name))
            return outputs[name]

        with ThreadPoolExecutor(max_workers=len(stages)) as pool:
            while True:
                # a skipped stage is done at once and may ready more stages
                while not failed and (
                    ready := [s for s in waiting if done.issuperset(s.inputs)]
                ):
                    for stage in ready:
                        waiting.remove(stage)
                        fp = fingerprints[stage.name]
                        if self.ledger.is_done(stage.name, fp):
                            skipped.add(stage.name)
                            done.add(stage.name)
                            continue
                        # decorated here: it captures this thread's properties
                        task = inheritable_thread_target(self.spark)(self._run_stage)
                        inputs = [load(name) for name in stage.inputs]
                        running[pool.submit(task, stage, fp, inputs)] = stage.name
                if not running:
                    break
                finished, _ = wait(running, return_when=FIRST_COMPLETED)
                for future in finished:
                    name = running.pop(future)
                    if (error := future.exception()) is not None:
                        failed[name] = error
                        continue
                    done.add(name)
                    ran.add(name)
                    if (materialized := future.result()) is not None:
                        outputs[name] = materialized
        order = [s.name for s in stages]
        if failed:
            raise failed[next(n for n in order if n in failed)]
        self.result.wall_s = round(time.perf_counter() - self._t_run, 3)
        self.result.stages_run = [n for n in order if n in ran]
        self.result.stages_skipped = [n for n in order if n in skipped]
        self.result.metrics = {n: self.result.metrics[n] for n in self.result.stages_run}

        # classify the run's stage-timing trend (constant/linear/exponential,
        # reference Export/Types.fs:179-208); stages are this engine's
        # "batches", so sample_every=1
        from neo4j_export_tool_spark.plans.perf import BatchPerformanceTracker

        tracker = BatchPerformanceTracker(strategy="stage_ledger", sample_every=1)
        for stage in self.result.stages_run:
            tracker.record_batch(self.result.metrics[stage]["seconds"] * 1000.0)
        self.result.performance = tracker.metrics()
        return self.result

    # -- graph materialization ------------------------------------------------

    def _entity_nodes(self, linked: DataFrame) -> DataFrame:
        """One node per linked canonical entity (label from the gazetteer)."""
        ents = (
            linked.filter(F.col("kb_id").isNotNull())
            .select(
                F.col("linked_name").alias("name"), F.col("label").alias("ent_label")
            )
            .distinct()
        )
        return nodes_from(
            ents,
            labels=F.array(F.col("ent_label")),
            element_id=F.concat(F.lit("entity:"), F.col("ent_label"), F.lit(":"), F.col("name")),
            props={"name": F.col("name")},
        )

    def _build_edges(
        self, triples: DataFrame, linked: DataFrame, nodes: DataFrame
    ) -> DataFrame:
        """Triples → entity-to-entity edges with provenance properties.

        Surface forms resolve to canonical entities through the linked
        mentions (a broadcast-sized distinct surface → entity map).
        """
        # no broadcast hint: the surface→entity map is distinct-surface-sized
        # (unbounded on web text) — AQE broadcasts it at runtime only when
        # it is actually small (round-1 verdict item #3)
        surf_map = (
            linked.filter(F.col("kb_id").isNotNull())
            .select(
                F.col("surface"),
                F.col("label").alias("ent_label"),
                F.col("linked_name").alias("entity"),
            )
            .distinct()
        )
        resolved = (
            triples.join(
                surf_map.withColumnsRenamed(
                    {"surface": "subj_surface", "ent_label": "s_label", "entity": "s_entity"}
                ),
                "subj_surface",
            )
            .join(
                surf_map.withColumnsRenamed(
                    {"surface": "obj_surface", "ent_label": "o_label", "entity": "o_entity"}
                ),
                "obj_surface",
            )
        )
        edges = edges_from(
            resolved,
            rel_type=F.upper(F.col("pred")),
            start_element_id=F.concat(
                F.lit("entity:"), F.col("s_label"), F.lit(":"), F.col("s_entity")
            ),
            end_element_id=F.concat(
                F.lit("entity:"), F.col("o_label"), F.lit(":"), F.col("o_entity")
            ),
            props={
                "source_url": F.col("url"),
                "char_start": F.col("char_start"),
            },
        )
        from neo4j_export_tool_spark.sources.jsonl_sink import with_properties_json

        return with_properties_json(
            attach_node_hashes(edges, nodes, broadcast_nodes=True)
        )
