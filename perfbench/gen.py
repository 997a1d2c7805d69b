"""Seeded inputs for the PagesPipeline benchmark.

Two corpora, each with the oracle of the triples planted in it:

- ``narrow``: the pages ``sources.synth.pages_spark_distributed`` produces,
  one ``synth._generate_one(doc_id, seed)`` row per document, over the
  library's closed 58-surface gazetteer, generated here on the driver
  without a Spark job.  That generator returns no oracle, so
  :func:`narrow_oracle` replays its per-document random draws up to the
  relation sentences.  If the generator changes its draw order the replay
  no longer matches and the P/R check fails loudly.
- ``wide``: pages whose entities come from a gazetteer built here, about
  2,000 entities and 3,700 surfaces, drawn Zipf-like so a few entities are
  hot and most are rare.  Names are made of ~90 consonant-vowel syllables.
  With only ~20 syllables the names share most char trigrams, alias
  candidate sets explode, and ``canonicalize`` ran for more than 12 minutes
  at 2,000 entities; that corpus is the similarity join's robustness case
  and is deliberately kept out of this benchmark's time budget.

Everything is a function of ``(size, seed)``: the same arguments give the
same bytes.
"""

from __future__ import annotations

import bisect
import datetime as dt
import hashlib
import itertools
import random
from dataclasses import dataclass

from neo4j_export_tool_spark.sources import synth

# (url, subj_surface, pred, obj_surface): the key the P/R check compares
Triple = tuple[str, str, str, str]

CONSONANTS = "bcdfghjklmnprstvwz"
VOWELS = "aeiou"
SYLLABLES = [c + v for c in CONSONANTS for v in VOWELS]  # 90
ORG_SUFFIXES = [
    "Analytics", "Systems", "Labs", "Software", "Data", "Research",
    "Devices", "Cloud", "Computing", "Widgets", "Networks", "Robotics",
]
PLACE_SUFFIXES = ["ford", "vale", "mere", "port", "field", "gate", "wick", "holm"]
ZIPF_S = 1.0


@dataclass
class Corpus:
    gazetteer: dict[str, tuple[str, str]]  # surface -> (label, canonical)
    surfaces_by_label: dict[str, list[str]]
    oracle: set[Triple]


def surfaces_by_label(gazetteer: dict[str, tuple[str, str]]) -> dict[str, list[str]]:
    out: dict[str, list[str]] = {"Person": [], "Organization": [], "Place": []}
    for surface, (label, _) in gazetteer.items():
        out[label].append(surface)
    return {k: sorted(v) for k, v in out.items()}


# ---------------------------------------------------------------------------
# narrow: the library's per-document generator + a replayed oracle
# ---------------------------------------------------------------------------

def _replay_pick(rng: random.Random, label: str) -> tuple[str, str]:
    pool = {"Person": synth.PERSONS, "Organization": synth.ORGS, "Place": synth.PLACES}[label]
    canon = rng.choice(sorted(pool))
    return rng.choice(pool[canon]), canon


def narrow_oracle(n_docs: int, seed: int) -> set[Triple]:
    """Triples ``synth._generate_one`` plants, from the same per-doc RNG."""
    oracle: set[Triple] = set()
    for doc_id in range(n_docs):
        rng = random.Random((seed << 32) ^ doc_id)
        url = f"https://example.org/page/{doc_id:08d}"
        rng.choice(synth.LANGS)
        n_rel = rng.randint(1, 4)
        rng.randint(2, 6)
        for _ in range(n_rel):
            pred, s_label, o_label, _ = rng.choice(synth.RELATION_TEMPLATES)
            s_surf, s_canon = _replay_pick(rng, s_label)
            o_surf, o_canon = _replay_pick(rng, o_label)
            while o_canon == s_canon:
                o_surf, o_canon = _replay_pick(rng, o_label)
            oracle.add((url, s_surf, pred, o_surf))
    return oracle


def narrow_corpus(n_docs: int, seed: int) -> tuple[list[tuple], Corpus]:
    """(rows, Corpus): page rows in the ``synth.PAGES_DDL`` column order."""
    rows = [synth._generate_one(doc_id, seed) for doc_id in range(n_docs)]
    gaz = dict(synth.GAZETTEER)
    return rows, Corpus(gaz, surfaces_by_label(gaz), narrow_oracle(n_docs, seed))


# ---------------------------------------------------------------------------
# wide: a generated gazetteer, Zipf-like entity draws
# ---------------------------------------------------------------------------

def _word(rng: random.Random, n_syllables: int) -> str:
    return "".join(rng.choice(SYLLABLES) for _ in range(n_syllables)).capitalize()


def wide_gazetteer(n_entities: int, seed: int) -> dict[str, tuple[str, str]]:
    """Persons (60%, "First Last" + "F. Last"), organizations (25%, "X Suffix"
    + "X Suffix Inc") and places (15%, one word).  A canonical name already
    used is drawn again; an alias already used by an earlier entity stays
    with that entity, so collisions resolve by generation order."""
    rng = random.Random(seed)
    n_person = n_entities * 60 // 100
    n_org = n_entities * 25 // 100
    n_place = n_entities - n_person - n_org
    gaz: dict[str, tuple[str, str]] = {}

    def add(label: str, make) -> None:
        canon, aliases = make()
        while canon in gaz:
            canon, aliases = make()
        for surface in aliases:
            gaz.setdefault(surface, (label, canon))

    def person():
        first, last = _word(rng, 2), _word(rng, 3)
        return f"{first} {last}", [f"{first} {last}", f"{first[0]}. {last}"]

    def org():
        name = f"{_word(rng, rng.randint(2, 3))} {rng.choice(ORG_SUFFIXES)}"
        return name, [name, f"{name} Inc"]

    def place():
        name = _word(rng, 2) + rng.choice(PLACE_SUFFIXES)
        return name, [name]

    for label, make, n in (
        ("Person", person, n_person), ("Organization", org, n_org), ("Place", place, n_place)
    ):
        for _ in range(n):
            add(label, make)
    return gaz


class _ZipfPicker:
    """Entity draws per label with weight 1/rank^s over a seeded ranking."""

    def __init__(self, gazetteer: dict[str, tuple[str, str]], seed: int):
        rng = random.Random(seed ^ 0x5EED)
        by_label: dict[str, dict[str, list[str]]] = {}
        for surface, (label, canon) in sorted(gazetteer.items()):
            by_label.setdefault(label, {}).setdefault(canon, []).append(surface)
        self.pools: dict[str, tuple[list[str], list[float], dict[str, list[str]]]] = {}
        for label, canon_map in by_label.items():
            ranked = sorted(canon_map)
            rng.shuffle(ranked)
            cum = list(itertools.accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(len(ranked))))
            self.pools[label] = (ranked, cum, canon_map)

    def pick(self, rng: random.Random, label: str) -> tuple[str, str]:
        ranked, cum, canon_map = self.pools[label]
        i = min(bisect.bisect(cum, rng.random() * cum[-1]), len(ranked) - 1)
        canon = ranked[i]
        return rng.choice(canon_map[canon]), canon


def wide_rows(n_docs: int, seed: int, gazetteer: dict[str, tuple[str, str]]):
    """(rows, oracle): page rows in the ``synth.PAGES_DDL`` column order."""
    picker = _ZipfPicker(gazetteer, seed)
    base_ts = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)
    rows = []
    oracle: set[Triple] = set()
    for doc_id in range(n_docs):
        rng = random.Random((seed << 32) ^ doc_id)
        url = f"https://example.org/wide/{doc_id:08d}"
        lang = rng.choice(synth.LANGS)
        paragraphs = []
        for _ in range(rng.randint(1, 4)):
            pred, s_label, o_label, tmpl = rng.choice(synth.RELATION_TEMPLATES)
            s_surf, s_canon = picker.pick(rng, s_label)
            o_surf, o_canon = picker.pick(rng, o_label)
            while o_canon == s_canon:
                o_surf, o_canon = picker.pick(rng, o_label)
            paragraphs.append(tmpl.format(s=s_surf, o=o_surf))
            oracle.add((url, s_surf, pred, o_surf))
        paragraphs += [synth._filler_sentence(rng) for _ in range(rng.randint(2, 6))]
        rng.shuffle(paragraphs)
        html = synth._render_html(f"Report {doc_id:08d}", paragraphs, rng)
        ts = base_ts + dt.timedelta(seconds=doc_id * 37, microseconds=doc_id % 1000)
        rows.append((url, ts, html, "\n".join(paragraphs), lang))
    return rows, oracle


def wide_corpus(n_docs: int, n_entities: int, seed: int) -> tuple[list[tuple], Corpus]:
    gaz = wide_gazetteer(n_entities, seed)
    rows, oracle = wide_rows(n_docs, seed, gaz)
    return rows, Corpus(gaz, surfaces_by_label(gaz), oracle)


def write_pages(spark, rows: list[tuple], path: str, partitions: int) -> None:
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    spark.createDataFrame(pdf, schema=synth.PAGES_DDL).repartition(partitions).write.parquet(path)


def input_digest(rows: list[tuple]) -> str:
    """SHA-256 over every page row, in generation order."""
    digest = hashlib.sha256()
    for url, ts, html, text, lang in rows:
        for part in (url.encode(), ts.isoformat().encode(), html, text.encode(), lang.encode()):
            digest.update(len(part).to_bytes(8, "little"))
            digest.update(part)
    return digest.hexdigest()
