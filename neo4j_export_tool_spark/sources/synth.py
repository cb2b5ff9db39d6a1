"""Deterministic Common-Crawl-style page-corpus synthesizer.

Produces the north-star input table ``(url: string, warc_ts: timestamp,
html: binary, text: string, lang: string)`` with *known* planted facts, so
the KG pipeline has an exact oracle:

- a fixed gazetteer of PERSON / ORG / PLACE entities (with alias surface
  forms, so canonicalization has real work to do),
- subject–predicate–object sentence templates planted into the text
  (the oracle triple set),
- boilerplate-wrapped HTML (nav/header/script/style/footer chrome around
  ``<p>`` content) whose extraction must be byte-identical to ``text``,
- a controlled fraction of near-duplicate documents (for MinHash/SimHash
  dedup tests).

Everything is seeded — same (n_docs, seed) → same bytes.  No external data.

Fixture-design lineage: the reference seeds deterministic test graphs the
same way (``Neo4jExport.Tests/EndToEnd/Infrastructure/TestDataManagement.fs``).
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import html as html_mod
import random

import pandas as pd

# ---------------------------------------------------------------------------
# Gazetteer: canonical entity -> (label, aliases)
# Aliases are alternative surface forms that mention detection will see and
# canonicalization must cluster back onto the canonical id.
# ---------------------------------------------------------------------------

PERSONS: dict[str, list[str]] = {
    "Ada Lovelace": ["Ada Lovelace", "A. Lovelace"],
    "Alan Turing": ["Alan Turing", "A. Turing"],
    "Grace Hopper": ["Grace Hopper", "G. Hopper"],
    "Edsger Dijkstra": ["Edsger Dijkstra"],
    "Barbara Liskov": ["Barbara Liskov", "B. Liskov"],
    "Donald Knuth": ["Donald Knuth", "D. Knuth"],
    "John McCarthy": ["John McCarthy"],
    "Margaret Hamilton": ["Margaret Hamilton", "M. Hamilton"],
    "Tim Berners-Lee": ["Tim Berners-Lee"],
    "Claude Shannon": ["Claude Shannon", "C. Shannon"],
    "Leslie Lamport": ["Leslie Lamport"],
    "Frances Allen": ["Frances Allen", "F. Allen"],
    "Ken Thompson": ["Ken Thompson"],
    "Dennis Ritchie": ["Dennis Ritchie", "D. Ritchie"],
    "Radia Perlman": ["Radia Perlman"],
    "Vint Cerf": ["Vint Cerf", "V. Cerf"],
    "Niklaus Wirth": ["Niklaus Wirth"],
    "Adele Goldberg": ["Adele Goldberg"],
    "Bjarne Stroustrup": ["Bjarne Stroustrup"],
    "Guido Rossum": ["Guido Rossum", "G. Rossum"],
}

ORGS: dict[str, list[str]] = {
    "Acme Analytics": ["Acme Analytics", "Acme Analytics Inc"],
    "Globex Systems": ["Globex Systems", "Globex Systems Ltd"],
    "Initech Software": ["Initech Software"],
    "Umbrella Labs": ["Umbrella Labs", "Umbrella Labs GmbH"],
    "Stark Industries": ["Stark Industries"],
    "Wayne Computing": ["Wayne Computing", "Wayne Computing Corp"],
    "Tyrell Data": ["Tyrell Data"],
    "Cyberdyne Research": ["Cyberdyne Research"],
    "Wonka Widgets": ["Wonka Widgets"],
    "Hooli Cloud": ["Hooli Cloud", "Hooli Cloud LLC"],
    "Soylent Compute": ["Soylent Compute"],
    "Oscorp Devices": ["Oscorp Devices"],
}

PLACES: dict[str, list[str]] = {
    "Springfield": ["Springfield"],
    "Gotham City": ["Gotham City"],
    "Metropolis": ["Metropolis"],
    "Rivertown": ["Rivertown"],
    "Lakeshire": ["Lakeshire"],
    "Hillvale": ["Hillvale"],
    "Port Arbor": ["Port Arbor"],
    "Eastmere": ["Eastmere"],
    "Westfall": ["Westfall"],
    "Northgate": ["Northgate"],
}

GAZETTEER: dict[str, tuple[str, str]] = {}  # surface -> (label, canonical)
for canon, aliases in PERSONS.items():
    for a in aliases:
        GAZETTEER[a] = ("Person", canon)
for canon, aliases in ORGS.items():
    for a in aliases:
        GAZETTEER[a] = ("Organization", canon)
for canon, aliases in PLACES.items():
    for a in aliases:
        GAZETTEER[a] = ("Place", canon)

# (predicate, subject_pool, object_pool, template)
RELATION_TEMPLATES: list[tuple[str, str, str, str]] = [
    ("works_for", "Person", "Organization", "{s} works for {o}."),
    ("founded", "Person", "Organization", "{s} founded {o}."),
    ("born_in", "Person", "Place", "{s} was born in {o}."),
    ("headquartered_in", "Organization", "Place", "{s} is headquartered in {o}."),
    ("knows", "Person", "Person", "{s} knows {o}."),
    ("acquired", "Organization", "Organization", "{s} acquired {o}."),
    ("located_in", "Place", "Place", "{s} is located in {o}."),
]

# Filler vocabulary deliberately avoids the relation trigger phrases
# ("works for", "founded", "was born in", ...) so pattern extraction has no
# planted false positives.
_FILLER_WORDS = (
    "market report quarterly update revenue growth product release schedule "
    "weather sunny cloudy forecast sports score final standings recipe "
    "ingredients kitchen travel guide museum ticket opening hours festival "
    "music concert review cinema premiere novel chapter library archive"
).split()

LANGS = ["en", "en", "en", "en", "fr", "es", "de", "zh"]  # en-weighted

_POOLS = {"Person": PERSONS, "Organization": ORGS, "Place": PLACES}


@dataclasses.dataclass
class PlantedTriple:
    url: str
    subj_surface: str
    pred: str
    obj_surface: str
    subj_canonical: str
    obj_canonical: str
    subj_label: str
    obj_label: str


def _filler_sentence(rng: random.Random) -> str:
    n = rng.randint(6, 14)
    words = [rng.choice(_FILLER_WORDS) for _ in range(n)]
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _pick_surface(rng: random.Random, label: str) -> tuple[str, str]:
    pool = _POOLS[label]
    canon = rng.choice(sorted(pool))
    surface = rng.choice(pool[canon])
    return surface, canon


def _render_html(title: str, paragraphs: list[str], rng: random.Random) -> bytes:
    """Boilerplate-wrapped page. Content paragraphs are HTML-escaped; the
    extractor must strip chrome + unescape to recover ``text`` byte-exactly."""
    nav_items = "".join(
        f'<li><a href="/{w}">{w}</a></li>' for w in rng.sample(_FILLER_WORDS, 4)
    )
    ad = _filler_sentence(rng)
    body_ps = "\n".join(f"<p>{html_mod.escape(p)}</p>" for p in paragraphs)
    return (
        "<!DOCTYPE html>\n<html><head>"
        f"<title>{html_mod.escape(title)}</title>"
        "<script>var trk=function(){return 42;};trk();</script>"
        "<style>body{font-family:serif;}.ad{display:none}</style>"
        "</head><body>"
        f"<nav><ul>{nav_items}</ul></nav>"
        f'<header><h1>{html_mod.escape(title)}</h1></header>'
        f'<aside class="ad">{html_mod.escape(ad)}</aside>'
        f'<main id="content">\n{body_ps}\n</main>'
        f"<footer>© {rng.randint(1999, 2026)} example.org — all rights reserved</footer>"
        "</body></html>"
    ).encode("utf-8")


def generate_pages(
    n_docs: int, seed: int = 42, near_dup_rate: float = 0.08
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Return (pages, oracle_triples) pandas frames.

    pages: url, warc_ts (µs UTC), html (bytes), text (str), lang (str)
    oracle_triples: url, subj_surface, pred, obj_surface, subj_canonical,
                    obj_canonical, subj_label, obj_label
    """
    rng = random.Random(seed)
    base_ts = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)
    rows = []
    triples: list[PlantedTriple] = []
    prior_paragraphs: list[tuple[list[str], list[PlantedTriple]]] = []

    for i in range(n_docs):
        url = f"https://example.org/page/{i:06d}"
        lang = rng.choice(LANGS)
        if prior_paragraphs and rng.random() < near_dup_rate:
            # near-duplicate of an earlier doc: same sentences, one FILLER
            # perturbed (never a relation sentence — the copied triples must
            # keep their evidence, or the oracle silently caps recall)
            src_paras, src_triples, filler_idxs = rng.choice(prior_paragraphs)
            paragraphs = list(src_paras)
            paragraphs[rng.choice(filler_idxs)] = _filler_sentence(rng)
            doc_triples = [
                dataclasses.replace(t, url=url) for t in src_triples
            ]
        else:
            n_rel = rng.randint(1, 4)
            n_fill = rng.randint(2, 6)
            paragraphs = []
            doc_triples = []
            for _ in range(n_rel):
                pred, s_label, o_label, tmpl = rng.choice(RELATION_TEMPLATES)
                s_surf, s_canon = _pick_surface(rng, s_label)
                o_surf, o_canon = _pick_surface(rng, o_label)
                while o_canon == s_canon:
                    o_surf, o_canon = _pick_surface(rng, o_label)
                paragraphs.append(tmpl.format(s=s_surf, o=o_surf))
                doc_triples.append(
                    PlantedTriple(
                        url, s_surf, pred, o_surf, s_canon, o_canon, s_label, o_label
                    )
                )
            relation_set = set(paragraphs)
            for _ in range(n_fill):
                paragraphs.append(_filler_sentence(rng))
            rng.shuffle(paragraphs)
            filler_idxs = [
                i for i, p in enumerate(paragraphs) if p not in relation_set
            ]
            prior_paragraphs.append((paragraphs, doc_triples, filler_idxs))

        title = f"Report {i:06d}"
        text = "\n".join(paragraphs)
        html = _render_html(title, paragraphs, rng)
        ts = base_ts + dt.timedelta(seconds=i * 37, microseconds=i % 1000)
        rows.append((url, ts, html, text, lang))
        triples.extend(doc_triples)

    pages = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    oracle = pd.DataFrame(
        [dataclasses.asdict(t) for t in triples],
        columns=[
            "url",
            "subj_surface",
            "pred",
            "obj_surface",
            "subj_canonical",
            "obj_canonical",
            "subj_label",
            "obj_label",
        ],
    )
    return pages, oracle


# the pages table: the WARC source and the page stream produce it too
PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def _generate_one(doc_id: int, seed: int) -> tuple:
    """Deterministic per-doc generation (independent of any other doc) —
    the distributed variant used by `pages_spark_distributed`."""
    rng = random.Random((seed << 32) ^ doc_id)
    base_ts = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)
    url = f"https://example.org/page/{doc_id:08d}"
    lang = rng.choice(LANGS)
    n_rel = rng.randint(1, 4)
    n_fill = rng.randint(2, 6)
    paragraphs = []
    for _ in range(n_rel):
        pred, s_label, o_label, tmpl = rng.choice(RELATION_TEMPLATES)
        s_surf, s_canon = _pick_surface(rng, s_label)
        o_surf, o_canon = _pick_surface(rng, o_label)
        while o_canon == s_canon:
            o_surf, o_canon = _pick_surface(rng, o_label)
        paragraphs.append(tmpl.format(s=s_surf, o=o_surf))
    for _ in range(n_fill):
        paragraphs.append(_filler_sentence(rng))
    rng.shuffle(paragraphs)
    title = f"Report {doc_id:08d}"
    text = "\n".join(paragraphs)
    html = _render_html(title, paragraphs, rng)
    ts = base_ts + dt.timedelta(seconds=doc_id * 37, microseconds=doc_id % 1000)
    return (url, ts, html, text, lang)


def pages_spark_distributed(spark, n_docs: int, seed: int = 42, partitions: int = 64):
    """Synthesize a large corpus IN PARALLEL on executors (one deterministic
    doc per id; no driver-side generation).  Used for scale benchmarks —
    unit tests keep `generate_pages`, whose sequential RNG also plants
    near-duplicates."""
    import pandas as _pd

    def gen(batches):
        for pdf in batches:
            rows = [_generate_one(int(i), seed) for i in pdf["id"]]
            yield _pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return (
        spark.range(n_docs)
        .repartition(partitions)
        .mapInPandas(gen, schema=PAGES_DDL)
    )


def pages_spark_df(spark, n_docs: int, seed: int = 42, partitions: int | None = None):
    """Synthesize the corpus as a Spark DataFrame (Arrow-backed createDataFrame)."""
    pages, _ = generate_pages(n_docs, seed)
    df = spark.createDataFrame(pages, schema=PAGES_DDL)
    if partitions:
        df = df.repartition(partitions)
    return df
