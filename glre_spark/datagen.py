"""Deterministic synthetic corpus generation (FIXTURES.md §B).

Generates the north-rule input table ``pages(url, warc_ts, html, text,
lang)`` (BASELINE.json input_hint), the alias dictionary, and the DocRED-
style relation schema — all seeded, order-independent (each row derives
from its doc_id alone), no external data.

The html is templated around the text such that
``extract.extract_text(html)`` recovers ``text`` byte-identically: content
sentences live in ``<p>`` blocks (with inline markup + entity escaping);
boilerplate (head, nav, footer) lives outside ``<p>`` and is dropped by the
extractor. That pair of functions is the frozen in-sandbox extraction
contract (SURVEY.md §5.2.3).
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import html as _html
import random

# --------------------------------------------------------------------------
# Closed entity vocabulary (name, type, aliases). Multi-token names exercise
# span matching; aliases exercise linking; "United States" is the seeded
# head-entity (appears in ~20% of docs → skew for the salted join).
# --------------------------------------------------------------------------
ENTITIES: list[tuple[str, str, list[str]]] = [
    ("United States", "LOC", ["USA", "U.S.", "United States of America"]),
    ("Alice Johnson", "PER", ["A. Johnson", "Alice J. Johnson"]),
    ("Bob Smith", "PER", ["Robert Smith", "B. Smith"]),
    ("Carol White", "PER", ["C. White"]),
    ("David Brown", "PER", ["D. Brown", "Dave Brown"]),
    ("Emma Davis", "PER", ["E. Davis"]),
    ("Frank Miller", "PER", ["F. Miller"]),
    ("Grace Wilson", "PER", ["G. Wilson"]),
    ("Henry Moore", "PER", ["H. Moore"]),
    ("Irene Taylor", "PER", ["I. Taylor"]),
    ("Acme Corporation", "ORG", ["Acme Corp", "Acme"]),
    ("Globex Industries", "ORG", ["Globex"]),
    ("Initech Systems", "ORG", ["Initech"]),
    ("Umbrella Group", "ORG", ["Umbrella"]),
    ("Stark Laboratories", "ORG", ["Stark Labs"]),
    ("Wayne Enterprises", "ORG", ["Wayne Ent"]),
    ("Hooli Incorporated", "ORG", ["Hooli Inc", "Hooli"]),
    ("Vandelay Industries", "ORG", ["Vandelay"]),
    ("Nakatomi Trading", "ORG", ["Nakatomi"]),
    ("Tyrell Corporation", "ORG", ["Tyrell Corp", "Tyrell"]),
    ("New York", "LOC", ["NYC", "New York City"]),
    ("United Kingdom", "LOC", ["UK", "Britain"]),
    ("Germany", "LOC", ["Deutschland"]),
    ("France", "LOC", []),
    ("Japan", "LOC", ["Nippon"]),
    ("Brazil", "LOC", []),
    ("Canada", "LOC", []),
    ("Australia", "LOC", []),
    ("San Francisco", "LOC", ["SF"]),
    ("Tokyo", "LOC", []),
    ("Berlin", "LOC", []),
    ("Paris", "LOC", []),
    ("London", "LOC", []),
    ("Sydney", "LOC", []),
    ("Toronto", "LOC", []),
]

HEAD_ENTITY = "United States"  # seeded skew target

# Programmatic vocabulary extension (deterministic, index-based): grows the
# entity space ~10× so the distinct-triple space scales with the corpus
# instead of saturating (important for the KG and the throughput bench).
_FIRST = ["Liam", "Noah", "Olivia", "Ava", "Ethan", "Mia", "Lucas", "Zoe",
          "Mason", "Isla", "Leo", "Nora", "Owen", "Ruby", "Eli", "Ivy",
          "Finn", "Ada", "Hugo", "Elsa"]
_LAST = ["Anderson", "Bennett", "Carter", "Dawson", "Ellis", "Foster",
         "Griffin", "Hayes", "Ingram", "Jenkins", "Keller", "Lawson",
         "Mercer", "Norris", "Osborne", "Parker", "Quinn", "Reeves",
         "Sutton", "Turner"]
_ORG_A = ["Apex", "Borealis", "Cascade", "Delta", "Ember", "Fulcrum",
          "Granite", "Horizon", "Ion", "Juniper", "Krypton", "Lumen",
          "Meridian", "Nimbus", "Onyx", "Pinnacle"]
_ORG_B = ["Analytics", "Dynamics", "Holdings", "Logistics", "Networks",
          "Robotics", "Systems", "Ventures"]
_LOC_A = ["Port", "Lake", "Mount", "Fort", "New", "East", "West", "North"]
_LOC_B = ["Alder", "Briar", "Cedar", "Dorset", "Elm", "Fenwick", "Garnet",
          "Hollow", "Iris", "Juniper"]


def _extended_entities() -> list[tuple[str, str, list[str]]]:
    out: list[tuple[str, str, list[str]]] = []
    for i in range(160):
        f, l = _FIRST[i % 20], _LAST[(i // 20 + i) % 20]
        name = f"{f} {l}"
        out.append((name, "PER", [f"{f[0]}. {l}"] if i % 3 == 0 else []))
    for i in range(96):
        a, b = _ORG_A[i % 16], _ORG_B[(i // 16) % 8]
        out.append((f"{a} {b}", "ORG", [a] if i % 4 == 0 and i < 64 else []))
    for i in range(72):
        a, b = _LOC_A[i % 8], _LOC_B[(i // 8) % 10]
        out.append((f"{a} {b}", "LOC", []))
    # drop collisions with the curated list or within the generated set
    seen = {n for n, _, _ in ENTITIES}
    uniq = []
    for name, typ, al in out:
        if name not in seen:
            seen.add(name)
            uniq.append((name, typ, al))
    return uniq


ENTITIES = ENTITIES + _extended_entities()

YEARS = ["1984", "1999", "2008", "2015", "2020", "2023"]

# Sentence templates: {P}=person {O}=org {L}=loc {Y}=year.
TEMPLATES = [
    "{P} works for {O} .",
    "{P} was born in {L} in {Y} .",
    "{O} is headquartered in {L} .",
    "{P} founded {O} in {Y} .",
    "{O} opened an office in {L} .",
    "{P} moved to {L} .",
    "{P} joined {O} after leaving {L} .",
    "{O} was acquired by {O2} in {Y} .",
    "{P} met {P2} in {L} .",
    "{L} is located in {L2} .",
    "{P} serves as chief executive of {O} .",
    "{O} announced a partnership with {O2} .",
]

_EPOCH = _dt.datetime(2024, 1, 1, 0, 0, 0)


def _rng(seed: int, doc_id: int) -> random.Random:
    h = hashlib.sha256(f"{seed}:{doc_id}".encode()).digest()
    return random.Random(int.from_bytes(h[:8], "big"))


_POOLS: dict[str, list[str]] = {}


def _pick(rng: random.Random, typ: str) -> str:
    # pool per type cached once: rebuilding the ~360-entry comprehension on
    # every pick was ~85% of gen_page_row (measured 628 -> 95 us/doc);
    # list order is unchanged so the RNG stream and output bytes are
    # identical
    pool = _POOLS.get(typ)
    if pool is None:
        pool = _POOLS[typ] = [n for n, t, _ in ENTITIES if t == typ]
    return pool[rng.randrange(len(pool))]


def doc_text(
    doc_id: int, seed: int = 42, sent_range: tuple[int, int] = (2, 8)
) -> tuple[str, list[str]]:
    """Return (text, sentences). Text = sentences joined by single spaces —
    fully whitespace-normalized, so the extractor's collapse is identity.
    ``sent_range`` sizes documents (bench uses longer, webpage-like docs)."""
    rng = _rng(seed, doc_id)
    n_sents = rng.randint(*sent_range)
    sents = []
    use_head = rng.random() < 0.20  # head-entity skew
    for i in range(n_sents):
        tpl = TEMPLATES[rng.randrange(len(TEMPLATES))]
        loc = HEAD_ENTITY if (use_head and i == 0) else _pick(rng, "LOC")
        loc2 = _pick(rng, "LOC")
        sent = tpl.format(
            P=_pick(rng, "PER"),
            P2=_pick(rng, "PER"),
            O=_pick(rng, "ORG"),
            O2=_pick(rng, "ORG"),
            L=loc,
            L2=loc2,
            Y=YEARS[rng.randrange(len(YEARS))],
        )
        sents.append(sent)
    return " ".join(sents), sents


def doc_lang(doc_id: int) -> str:
    if doc_id % 17 == 3:
        return "de"
    if doc_id % 23 == 5:
        return "fr"
    return "en"


def doc_url(doc_id: int) -> str:
    # ~10% recrawl duplicates: doc_id % 10 == 7 reuses the previous url
    # (with a later warc_ts) → exercises the as-of dedup.
    base = doc_id - 1 if doc_id % 10 == 7 else doc_id
    return f"https://host{base % 50}.example/p/{base}"


def doc_warc_ts(doc_id: int) -> _dt.datetime:
    if doc_id % 10 == 7:
        # Recrawl row (doc_url reuses doc_id-1's url): its timestamp must be
        # strictly LATER than the original crawl's so the as-of dedup always
        # keeps the recrawl. A plain day-of-week wrap broke this for
        # doc_id ≡ 7 (mod 70) — derive from the base crawl + positive offset.
        return doc_warc_ts(doc_id - 1) + _dt.timedelta(days=30, hours=1)
    return _EPOCH + _dt.timedelta(
        days=doc_id % 7, hours=doc_id % 24, seconds=doc_id % 3600
    )


def render_html(url: str, sents: list[str], seed: int, doc_id: int) -> bytes:
    """Template the sentences into an HTML page. Boilerplate lives outside
    <p>; one sentence per <p>, escaped, sometimes with inline <b>/<em>."""
    rng = _rng(seed * 7919 + 13, doc_id)
    paras = []
    for s in sents:
        esc = _html.escape(s, quote=False)
        style = rng.randrange(4)
        if style == 1:
            toks = esc.split(" ")
            k = rng.randrange(len(toks))
            toks[k] = f"<b>{toks[k]}</b>"
            esc = " ".join(toks)
        elif style == 2:
            esc = f"<em>{esc}</em>"
        cls = f' class="s{rng.randrange(3)}"' if style == 3 else ""
        paras.append(f"  <p{cls}>{esc}</p>")
    body = "\n".join(paras)
    page = (
        "<!DOCTYPE html>\n"
        f'<html lang="en">\n<head>\n  <title>{_html.escape(url)}</title>\n'
        '  <meta charset="utf-8">\n'
        "  <style>body { font: 14px serif; }</style>\n"
        '  <script type="text/javascript">var x = 1 < 2 && "</p>";</script>\n'
        "</head>\n<body>\n"
        '<nav><a href="/">Home</a> | <a href="/about">About</a></nav>\n'
        f"<h1>Page {doc_id}</h1>\n<!-- generated page -->\n"
        f"{body}\n"
        "<footer>&copy; 2024 example.org</footer>\n"
        "</body>\n</html>\n"
    )
    return page.encode("utf-8")


def gen_page_row(
    doc_id: int, seed: int = 42, sent_range: tuple[int, int] = (2, 8)
) -> dict:
    text, sents = doc_text(doc_id, seed, sent_range)
    url = doc_url(doc_id)
    return {
        "url": url,
        "warc_ts": doc_warc_ts(doc_id),
        "html": render_html(url, sents, seed, doc_id),
        "text": text,
        "lang": doc_lang(doc_id),
    }


def gen_pages(n_docs: int) -> list[dict]:
    return [gen_page_row(i) for i in range(n_docs)]


PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def pages_df(
    spark,
    n_docs: int,
    seed: int = 42,
    partitions: int | None = None,
    sent_range: tuple[int, int] = (2, 8),
):
    """Distributed generation: parallelize doc_ids, generate per-partition
    inside mapInPandas — scales to any n_docs without driver materialize."""
    ids = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)
    return _gen_pages(ids, seed, sent_range)


def _gen_pages(ids, seed: int = 42, sent_range: tuple[int, int] = (2, 8)):
    """The one page generator: gen_page_row over each id of ``ids``' ``id``
    column, inside mapInPandas."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            rows = [gen_page_row(int(i), seed, sent_range) for i in pdf["id"]]
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return ids.mapInPandas(gen, PAGES_SCHEMA)


def pages_from_docs(docs, partitions: int | None = None):
    """Synthesize the north-rule pages table 1:1 from a DataFrame's doc_id column
    (shared by the driver entry, the glre_* ops, and the UDF-surface ops —
    one generator, identical corpus everywhere).

    ``partitions=None`` gives max(16, defaultParallelism) gen tasks: the
    cluster width on wide masters, never fewer than 16 on narrow ones.
    Not the 2x-width rule for CPU-per-row stages: after the _pick
    pool-cache fix the gen is ~70 us/doc, so Python-worker task dispatch
    (~20 ms/task) dominates and fewer, fuller tasks win (measured sf1.0:
    0.67 s at 32 tasks vs 1.08 s at 64 on local[32]). Explicit callers
    (driver entry, tests) still pin their own."""
    if partitions is None:
        partitions = max(16, docs.sparkSession.sparkContext.defaultParallelism)
    ids = docs.selectExpr("doc_id AS id").repartition(partitions)
    return _gen_pages(ids)


# --------------------------------------------------------------------------
# Alias dictionary (broadcast side of entity linking) + relation schema.
# --------------------------------------------------------------------------


def entity_key(name: str) -> str:
    return "Q" + hashlib.sha256(name.encode()).hexdigest()[:12]


def norm_alias(s: str) -> str:
    """Python twin of linking.norm_name (lower → punctuation to spaces →
    collapse) — the two MUST stay in lockstep or aliases stop linking."""
    import re

    return re.sub(r"[^0-9a-z]+", " ", s.lower()).strip()


def alias_rows() -> list[dict]:
    rows = []
    seen = set()
    for name, typ, aliases in ENTITIES:
        key = entity_key(name)
        for alias in [name, *aliases]:
            norm = norm_alias(alias)
            if norm in seen:
                continue
            seen.add(norm)
            rows.append(
                {
                    "alias_norm": norm,
                    "entity_key": key,
                    "canonical_name": name,
                    "type": typ,
                }
            )
    return rows


# DocRED's vocabulary is 96 Wikidata P-properties + NA (paper:§4). A few
# real ids for the relations our templates express; the rest filled to 96 —
# a closed synthetic schema (the in-sandbox reference is our frozen golden).
_REAL_RELS = [
    ("P108", "employer"),
    ("P19", "place of birth"),
    ("P159", "headquarters location"),
    ("P112", "founded by"),
    ("P571", "inception"),
    ("P740", "location of formation"),
    ("P17", "country"),
    ("P131", "located in the administrative territorial entity"),
    ("P127", "owned by"),
    ("P169", "chief executive officer"),
    ("P463", "member of"),
    ("P569", "date of birth"),
]


def rel_schema_rows() -> list[dict]:
    rows = [{"rel_id": r, "rel_name": n} for r, n in _REAL_RELS]
    i = 1
    while len(rows) < 96:
        rid = f"P9{i:03d}"
        if rid not in {r["rel_id"] for r in rows}:
            rows.append({"rel_id": rid, "rel_name": f"synthetic relation {i}"})
        i += 1
    return rows
