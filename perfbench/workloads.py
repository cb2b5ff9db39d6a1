"""The benchmark's three workloads: seeded input generators, the timed
operation, and the output checks that decide whether an operation failed.

Every workload is a class with the same four steps:

``generate(seed)``
    builds the inputs in memory from the seed alone and returns their
    SHA-256 digests (one per input table, over a canonical row encoding);
``prepare(spark, work_dir)``
    writes the inputs to parquet and opens them as DataFrames;
``op(spark, op_dir, force)``
    the timed operation.  It calls the package through module attributes,
    which the traced run wraps, and collects lazy results with ``force``,
    which the traced run charges to the layer that produced them;
``check(spark, out)``
    the untimed output check: returns the op's work count, its quality
    ratios, an output digest and the list of failed checks.

Only public functions of ``neo4j_export_tool_spark`` are called.
"""

from __future__ import annotations

import collections
import hashlib
import math
import os
import random
from dataclasses import dataclass, field
from typing import Any

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# module objects, not functions: the traced run wraps module attributes,
# and the ops look them up at call time
from neo4j_export_tool_spark.operators import canonicalize, linking
from neo4j_export_tool_spark.plans import flagship, pages_pipeline
from neo4j_export_tool_spark.sources import jsonl_sink, jsonl_source, synth


# ---------------------------------------------------------------------------
# canonical input digests
# ---------------------------------------------------------------------------

def _cell_bytes(v: Any) -> bytes:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return b"\x00"
    if isinstance(v, bytes):
        return b"b" + v
    if isinstance(v, pd.Timestamp):
        return b"t" + str(v.value).encode()
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return b"n" + repr(v).encode()
    return b"s" + str(v).encode("utf-8")


def frame_sha256(frame: pd.DataFrame) -> str:
    """SHA-256 over a length-prefixed encoding of every cell, row by row,
    with the column names first.  Independent of parquet writer versions,
    so a pinned digest moves only when the generated data moves."""
    h = hashlib.sha256()
    for name in frame.columns:
        h.update(f"{len(name)}:{name}".encode())
    for row in frame.itertuples(index=False, name=None):
        for v in row:
            b = _cell_bytes(v)
            h.update(len(b).to_bytes(8, "little"))
            h.update(b)
    return h.hexdigest()


def rows_sha256(rows: list[tuple]) -> str:
    """Order-independent output digest: SHA-256 of the sorted row reprs."""
    h = hashlib.sha256()
    for r in sorted(repr(r) for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def _write_parquet(frame: pd.DataFrame, schema: pa.Schema, path: str, parts: int) -> None:
    """Write ``frame`` as ``parts`` parquet files under directory ``path``,
    so Spark reads it back as ``parts`` partitions."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(frame, schema=schema, preserve_index=False)
    step = math.ceil(len(frame) / parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


@dataclass
class CheckResult:
    units: int  # the workload's unit of work (triples, records, surfaces)
    quality: dict[str, float]
    digest: str
    failures: list[str] = field(default_factory=list)
    sink_mb: float = 0.0  # bytes the JSONL sink wrote


# ---------------------------------------------------------------------------
# pages_kg
# ---------------------------------------------------------------------------

class PagesKG:
    """``PagesPipeline.run`` over ``generate_pages(n, seed)`` — the paper's
    north-star dataflow, cold (fresh ledger dir) on every op."""

    name = "pages_kg"
    unit_name = "triples"
    quality_keys = ("triple_precision", "triple_recall", "text_exact_share")
    n_pages = 2000
    parts = 4
    pr_floor = 0.95

    def generate(self, seed: int) -> dict[str, str]:
        self.seed = seed
        self.pages, self.oracle = synth.generate_pages(self.n_pages, seed=seed)
        self.pages["warc_ts"] = self.pages["warc_ts"].dt.as_unit("us")
        return {"pages": frame_sha256(self.pages), "oracle": frame_sha256(self.oracle)}

    def prepare(self, spark, work_dir: str) -> None:
        schema = pa.schema([
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ])
        path = os.path.join(work_dir, "pages.parquet")
        _write_parquet(self.pages, schema, path, self.parts)
        self.pages_df = spark.read.schema(synth.PAGES_DDL).parquet(path)
        self.surfaces_by_label = {
            label: [s for aliases in pool.values() for s in aliases]
            for label, pool in (
                ("Person", synth.PERSONS), ("Organization", synth.ORGS), ("Place", synth.PLACES)
            )
        }
        self.want_triples = set(zip(
            self.oracle["url"], self.oracle["subj_surface"],
            self.oracle["pred"], self.oracle["obj_surface"],
        ))
        self.want_text = dict(zip(self.pages["url"], self.pages["text"]))
        self.html_mb = float(self.pages["html"].map(len).sum()) / 1e6

    def op(self, spark, op_dir: str, force) -> Any:
        pipe = pages_pipeline.PagesPipeline(
            spark, op_dir, synth.GAZETTEER, synth.RELATION_TEMPLATES, self.surfaces_by_label,
        )
        return pipe.run(self.pages_df, f"perfbench:{self.n_pages}:{self.seed}")

    def check(self, spark, result) -> CheckResult:
        failures = []
        stages = os.path.join(result.work_dir, "stages")
        triples = [
            tuple(r) for r in spark.read.parquet(os.path.join(stages, "triples"))
            .select("url", "subj_surface", "pred", "obj_surface").collect()
        ]
        got = set(triples)
        tp = len(got & self.want_triples)
        precision = tp / max(len(got), 1)
        recall = tp / max(len(self.want_triples), 1)
        if precision < self.pr_floor or recall < self.pr_floor:
            failures.append(f"triple P/R {precision:.4f}/{recall:.4f} < {self.pr_floor}")

        extracted = dict(
            spark.read.parquet(os.path.join(stages, "extract")).select("url", "text").collect()
        )
        exact = sum(
            1 for url, text in self.want_text.items()
            if url in extracted and extracted[url].encode() == text.encode()
        )
        text_exact = exact / len(self.want_text)
        if text_exact != 1.0:
            failures.append(f"extract text not byte-identical on {len(self.want_text) - exact} urls")

        export_file = result.metrics["export"]["file"]
        meta = jsonl_source.read_jsonl_export(spark, export_file).metadata
        stats = meta["database_statistics"]
        graph_rows = result.metrics["nodes"]["rows"] + result.metrics["edges"]["rows"]
        if stats["nodeCount"] + stats["relCount"] != graph_rows:
            failures.append(
                f"export nodeCount+relCount {stats['nodeCount'] + stats['relCount']} != {graph_rows}"
            )

        kb_ids = [r[0] for r in spark.read.parquet(os.path.join(stages, "link")).select("kb_id").collect()]
        linked_share = sum(k is not None for k in kb_ids) / max(len(kb_ids), 1)

        canon = spark.read.parquet(os.path.join(stages, "canonicalize")).collect()
        edges = spark.read.parquet(os.path.join(stages, "edges")).select(
            "element_id", "start_node_content_hash", "end_node_content_hash"
        ).collect()
        digest = rows_sha256(triples + [tuple(r) for r in canon] + [tuple(r) for r in edges])
        return CheckResult(
            units=len(triples),
            quality={
                "triple_precision": precision,
                "triple_recall": recall,
                "text_exact_share": text_exact,
                "linked_share": linked_share,
            },
            digest=digest,
            failures=failures,
            sink_mb=os.path.getsize(export_file) / 1e6,
        )


# ---------------------------------------------------------------------------
# docs_export
# ---------------------------------------------------------------------------

# The closed word vocabulary of the sf0.1 ``documents`` test table.
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DOC_LANGS = ["en", "zh", "es", "fr", "de"]
DOC_LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.15, 0.14]


class DocsExport:
    """``documents_kg`` → ``export_jsonl`` → ``read_jsonl_export``, forced,
    over an sf0.1-shaped ``documents`` table (5,000 rows, 31-word closed
    vocabulary, 5% ``dup``-tagged copies)."""

    name = "docs_export"
    unit_name = "records"
    quality_keys = ("roundtrip_exact_share",)
    n_docs = 5000
    dup_rate = 0.05

    def generate(self, seed: int) -> dict[str, str]:
        rng = random.Random(seed)
        texts: list[str] = []
        rows = []
        for doc_id in range(self.n_docs):
            if texts and rng.random() < self.dup_rate:
                text = rng.choice(texts) + " dup"
            else:
                text = " ".join(rng.choice(DOC_WORDS) for _ in range(rng.randint(10, 100)))
            texts.append(text)
            lang = rng.choices(DOC_LANGS, DOC_LANG_WEIGHTS)[0]
            rows.append((doc_id, text, lang, f"src{doc_id % 20}", len(text)))
        self.docs = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
        return {"documents": frame_sha256(self.docs)}

    def prepare(self, spark, work_dir: str) -> None:
        schema = pa.schema([
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ])
        self.sf_dir = os.path.join(work_dir, "docs_sf")
        os.makedirs(self.sf_dir, exist_ok=True)
        pq.write_table(
            pa.Table.from_pandas(self.docs, schema=schema, preserve_index=False),
            os.path.join(self.sf_dir, "documents.parquet"),
        )
        self.expected: tuple[str, str] | None = None

    def op(self, spark, op_dir: str, force) -> Any:
        nodes, edges = flagship.documents_kg(spark, self.sf_dir)
        res = jsonl_sink.export_jsonl(nodes, edges, op_dir)
        imported = jsonl_source.read_jsonl_export(spark, res.path)
        got_nodes = force(imported.nodes, "element_id", "content_hash")
        got_edges = force(
            imported.edges, "element_id", "start_node_content_hash", "end_node_content_hash"
        )
        return nodes, edges, res, got_nodes, got_edges

    @staticmethod
    def _multisets(nodes: pd.DataFrame, edges: pd.DataFrame) -> tuple[str, str]:
        return (
            rows_sha256(list(nodes.itertuples(index=False, name=None))),
            rows_sha256(list(edges.itertuples(index=False, name=None))),
        )

    def check(self, spark, result) -> CheckResult:
        nodes, edges, res, got_nodes, got_edges = result
        failures = []
        if self.expected is None:
            # the pre-export frames, evaluated once per run (the engine
            # promises bit-identical results, so every op must match them)
            self.expected = self._multisets(
                nodes.select("element_id", "content_hash").toPandas(),
                edges.select(
                    "element_id", "start_node_content_hash", "end_node_content_hash"
                ).toPandas(),
            )
        got = self._multisets(got_nodes, got_edges)
        if got[0] != self.expected[0]:
            failures.append("re-imported node (element_id, content_hash) multiset differs")
        if got[1] != self.expected[1]:
            failures.append("re-imported edge (element_id, hashes) multiset differs")
        if (res.node_count, res.rel_count) != (len(got_nodes), len(got_edges)):
            failures.append(
                f"export counted {res.node_count}+{res.rel_count}, "
                f"re-import read {len(got_nodes)}+{len(got_edges)}"
            )
        records = len(got_nodes) + len(got_edges)
        return CheckResult(
            units=records,
            quality={"roundtrip_exact_share": 0.0 if failures else 1.0},
            digest=hashlib.sha256("".join(got).encode()).hexdigest(),
            failures=failures,
            sink_mb=os.path.getsize(res.path) / 1e6,
        )


# ---------------------------------------------------------------------------
# entity_resolve
# ---------------------------------------------------------------------------

_ONSETS = "b d f g k l m n p r s t v z br dr gr kr pl st tr".split()
_VOWELS = "a e i o u".split()
_CODAS = ["", "", "n", "r", "s", "l", "m"]
_SUFFIXES = ["Inc", "Ltd", "GmbH", "LLC", "Corp"]


def _pseudo_word(rng: random.Random, syllables: int) -> str:
    word = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(syllables))
    return (word + rng.choice(_CODAS)).capitalize()


def _zipf_weights(n: int, s: float) -> list[float]:
    return [1.0 / (r + 1) ** s for r in range(n)]


def _typo(rng: random.Random, name: str) -> str:
    """One substituted letter in the last token (never its first letter,
    so the blocking key and the word count stay)."""
    head, last = name.rsplit(" ", 1)
    i = rng.randrange(1, len(last))
    repl = rng.choice([c for c in "aeioubdgklmnprstvz" if c != last[i].lower()])
    return f"{head} {last[:i]}{repl}{last[i + 1:]}"


class _TrigramIndex:
    """Character-trigram sets of the surfaces planted so far, lower-cased as
    ``canonicalize_surfaces`` shingles them, with a posting list per
    trigram, so a new surface's highest Jaccard against them is cheap."""

    def __init__(self) -> None:
        self.sets: dict[str, frozenset[str]] = {}
        self.postings: dict[str, list[str]] = collections.defaultdict(list)

    @staticmethod
    def grams(surface: str) -> frozenset[str]:
        s = surface.lower()
        return frozenset(s[i:i + 3] for i in range(len(s) - 2)) if len(s) >= 3 else frozenset([s])

    def max_jaccard(self, surface: str) -> float:
        g = self.grams(surface)
        shared = collections.Counter(o for t in g for o in self.postings.get(t, ()))
        return max(
            (n / (len(g) + len(self.sets[o]) - n) for o, n in shared.items()), default=0.0
        )

    def add(self, surface: str) -> None:
        g = self.sets[surface] = self.grams(surface)
        for t in g:
            self.postings[t].append(surface)


class EntityResolve:
    """``canonicalize_surfaces`` then ``link_mentions``, both forced, over
    a generated KB and mention table with planted alias clusters."""

    name = "entity_resolve"
    unit_name = "surfaces"
    quality_keys = ("alias_pair_precision", "alias_pair_recall", "link_accuracy")
    n_persons = 500
    n_orgs = 200
    n_first_names = 60
    n_org_heads = 40
    noise_share = 0.15
    n_mentions = 12000
    zipf_s = 1.1
    # canonicalization links surfaces at trigram Jaccard >= 0.45; surfaces
    # of different entities stay below this, or CC chains them together
    max_unrelated_jaccard = 0.40

    def generate(self, seed: int) -> dict[str, str]:
        rng = random.Random(seed)
        firsts = sorted({_pseudo_word(rng, 2) for _ in range(self.n_first_names * 2)})
        firsts = rng.sample(firsts, self.n_first_names)
        heads = sorted({_pseudo_word(rng, 3) for _ in range(self.n_org_heads * 2)})
        heads = rng.sample(heads, self.n_org_heads)
        first_w = _zipf_weights(len(firsts), self.zipf_s)
        head_w = _zipf_weights(len(heads), self.zipf_s)
        used_lasts: set[str] = set()

        def last_name(syllables: int) -> str:
            while True:
                w = _pseudo_word(rng, syllables)
                if w.lower() not in used_lasts:
                    used_lasts.add(w.lower())
                    return w

        kb_rows = []
        surfaces: dict[str, str | None] = {}  # surface -> planted kb_id
        index = _TrigramIndex()

        def plant(make_group, kb_id: str | None) -> str:
            """Draw surface groups until none is close to an earlier one."""
            while True:
                group = make_group()
                if all(index.max_jaccard(x) < self.max_unrelated_jaccard for x in group):
                    break
            for x in group:
                index.add(x)
                surfaces.setdefault(x, kb_id)
            return group[0]

        def entity(person: bool) -> list[str]:
            if person:
                name = f"{rng.choices(firsts, first_w)[0]} {last_name(4)}"
                kinds = ["initials", "case", "typo"]
            else:
                name = f"{rng.choices(heads, head_w)[0]} {last_name(3)}"
                kinds = ["suffix", "case", "typo"]
            group = [name]
            for kind in rng.sample(kinds, rng.randint(0, len(kinds))):
                if kind == "initials":
                    first, last = name.split(" ", 1)
                    group.append(f"{first[0]}. {last}")
                elif kind == "suffix":
                    group.append(f"{name} {rng.choice(_SUFFIXES)}")
                elif kind == "case":
                    group.append(name.upper())
                else:
                    group.append(_typo(rng, name))
            return group

        for i in range(self.n_persons + self.n_orgs):
            kb_id = f"kb:{i:05d}"
            person = i < self.n_persons
            kb_rows.append((kb_id, plant(lambda: entity(person), kb_id)))
        n_noise = round(len(surfaces) * self.noise_share / (1 - self.noise_share))
        for _ in range(n_noise):
            plant(lambda: [f"{rng.choices(firsts, first_w)[0]} {last_name(4)}"], None)

        order = sorted(surfaces)
        rng.shuffle(order)
        freq_w = _zipf_weights(len(order), self.zipf_s)
        picks = order + rng.choices(order, freq_w, k=self.n_mentions - len(order))
        rng.shuffle(picks)
        self.kb = pd.DataFrame(kb_rows, columns=["kb_id", "name"])
        self.mentions = pd.DataFrame(
            [(i, s, surfaces[s]) for i, s in enumerate(picks)],
            columns=["mention_id", "surface", "planted_kb_id"],
        )
        self.planted = surfaces
        return {"kb": frame_sha256(self.kb), "mentions": frame_sha256(self.mentions)}

    def prepare(self, spark, work_dir: str) -> None:
        kb_path = os.path.join(work_dir, "kb.parquet")
        m_path = os.path.join(work_dir, "mentions.parquet")
        _write_parquet(
            self.kb, pa.schema([("kb_id", pa.string()), ("name", pa.string())]), kb_path, 1
        )
        _write_parquet(
            self.mentions[["mention_id", "surface"]],
            pa.schema([("mention_id", pa.int64()), ("surface", pa.string())]),
            m_path,
            4,
        )
        self.kb_df = spark.read.parquet(kb_path)
        self.mentions_df = spark.read.parquet(m_path)
        self.surfaces_df = self.mentions_df.select("surface")

    def op(self, spark, op_dir: str, force) -> Any:
        cmap = force(
            canonicalize.canonicalize_surfaces(self.surfaces_df),
            "surface", "canonical_surface", "cluster_size",
        )
        linked = force(
            linking.link_mentions(self.mentions_df, self.kb_df),
            "mention_id", "kb_id", "link_score",
        )
        return cmap, linked

    def check(self, spark, result) -> CheckResult:
        cmap, linked = result
        failures = []
        want = set(self.planted)
        got = cmap["surface"]
        if got.duplicated().any():
            failures.append(f"{int(got.duplicated().sum())} surfaces duplicated in the canonical map")
        if set(got) != want:
            failures.append(f"{len(want - set(got))} distinct surfaces missing from the canonical map")
        groups = cmap.groupby("canonical_surface")["surface"]
        bad_rep = (groups.transform("min") != cmap["canonical_surface"]).sum()
        if bad_rep:
            failures.append(f"{int(bad_rep)} representatives are not their cluster minimum")
        bad_size = (groups.transform("size") != cmap["cluster_size"]).sum()
        if bad_size:
            failures.append(f"{int(bad_size)} cluster sizes are wrong")
        if len(linked) != len(self.mentions) or set(linked["mention_id"]) != set(
            self.mentions["mention_id"]
        ):
            failures.append(
                f"link fan-back returned {len(linked)} rows for {len(self.mentions)} mentions"
            )

        # alias pairs: same predicted cluster vs same planted entity
        planted = pd.Series(
            [self.planted.get(s) or f"noise:{s}" for s in cmap["surface"]], index=cmap.index
        )
        frame = pd.DataFrame({"pred": cmap["canonical_surface"], "true": planted})

        def pairs(sizes: pd.Series) -> int:
            return int((sizes * (sizes - 1) // 2).sum())

        pred_pairs = pairs(frame.groupby("pred").size())
        true_pairs = pairs(frame.groupby("true").size())
        both = pairs(frame.groupby(["pred", "true"]).size())
        alias_p = both / pred_pairs if pred_pairs else 1.0
        alias_r = both / true_pairs if true_pairs else 1.0

        want_link = self.mentions.set_index("mention_id")["planted_kb_id"]
        got_link = linked.set_index("mention_id")["kb_id"].reindex(want_link.index)
        agree = (got_link.fillna("") == want_link.fillna("")).sum()
        link_acc = float(agree) / len(want_link)
        linked_share = float(got_link.notna().sum()) / len(want_link)

        digest = rows_sha256(
            list(cmap.itertuples(index=False, name=None))
            + list(linked.itertuples(index=False, name=None))
        )
        return CheckResult(
            units=len(cmap),
            quality={
                "alias_pair_precision": alias_p,
                "alias_pair_recall": alias_r,
                "link_accuracy": link_acc,
                "linked_share": linked_share,
            },
            digest=digest,
            failures=failures,
        )


WORKLOADS = {w.name: w for w in (PagesKG, DocsExport, EntityResolve)}
