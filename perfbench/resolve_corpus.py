"""Seeded entity-resolution corpus for the ``entity_resolve`` workload.

Every document is a message episode of templated sentences the repo's
rule-based extractor parses ("Speaker: Subj <phrase> Obj since YYYY."),
but the entity vocabulary is large and diverse: people are drawn from
first-name x surname lists, organisations from two-word stems plus an
industry noun. A fixed share of entities is written under variant
surface forms (true duplicates), and a fixed share has a look-alike
sibling that is a DIFFERENT entity (a false-merge trap).

The recipe and its shares are fixed here once, independently of the
resolver's thresholds; never tune them to the resolver.

The vocabulary (entities, their variant forms and look-alikes) is drawn
once, from ``VOCAB_SEED``; the run's seed draws the documents: which forms
co-occur, the extra mentions, predicates, years, speakers and document
boundaries. Seeds thus vary the input without varying the resolver's
task, so dedup quality and the graph's size barely move between seeds.

The generator returns the documents together with their ground truth:
the exact triple multiset and, for every surface form, the id of the
true entity it names (the duplicate clusters).
"""

from __future__ import annotations

import random
from dataclasses import dataclass

N_GROUPS = 8
VOCAB_SEED = 20240
SENTENCES_PER_DOC = (1, 3)
YEARS = (2000, 2024)

# Recipe shares, fixed before any measurement.
PERSON_SHARE = 0.5
VARIANT_SHARE = 0.35        # entities that also appear under variant forms
MAX_VARIANTS = 2
LOOKALIKE_SHARE = 0.10      # entities that get a distinct look-alike sibling
EXTRA_MENTIONS = 0.5        # extra sentence slots per surface form, drawn at random

SPEAKERS = ["Quinn", "Rowan", "Sasha", "Tamsin", "Uri", "Vesna"]

PREDICATES = [
    ("WORKS_FOR", "works for"),
    ("LIKES", "likes"),
    ("LOCATED_IN", "is located in"),
    ("PARTNERED_WITH", "partnered with"),
    ("LEFT_JOB", "left"),
    ("DISLIKES", "dislikes"),
    ("ACQUIRED", "acquired"),
    ("CEO_OF", "is the CEO of"),
]

FIRST = """Aaliyah Abel Ada Adrian Agnes Aiden Alan Albert Alma Amara Ambrose
Amelia Anders Andrea Angus Anika Ansel Arjun Arlo Astrid August Aurora Basil
Beatrix Benedict Bernard Bianca Boris Bram Brenna Bruno Caleb Calla Camille
Casper Cedric Celeste Chandra Clara Clement Cora Cosmo Cyrus Dalia Damian
Daphne Darius Delia Desmond Dmitri Dorothea Edgar Edith Elias Elodie Emeric
Enzo Esme Ezra Fabian Farah Felix Fiona Florian Freya Gabriel Gemma Gideon
Greta Gustav Hana Harvey Hazel Helena Hugo Ida Ignatius Ilse Imogen Ingrid
Isidore Ivo Jasper Javier Jonah Josephine Julius Juno Kasimir Keira Kenji
Klaus Lavinia Leander Leona Linus Livia Lorenzo Lucian Lydia Magnus Malika
Marcel Margot Matthias Maxine Milo Mira Nadia Nikolai Noor Octavia Odette
Olaf Orla Osric Otto Paloma Pascal Petra Phineas Priya Quentin Rafael Ramona
Reuben Rosalind Rufus Sabine Saoirse Sebastian Selma Silas Soren Stellan
Sunniva Tobias Tove Ulrich Valentina Vaughn Viggo Wilhelmina Xavier Yara
Yusuf Zara Zeno""".split()

SURNAMES = """Abernathy Achterberg Adeyemi Albrecht Alcott Amundsen Arkwright
Ashdown Bachmann Baptiste Barrington Beaumont Bellweather Bergstrom Blackwood
Bonhoeffer Brannigan Calloway Carrington Castellano Chamberlain Chatterjee
Cheng Colquhoun Cornwallis Dabrowski Dalgleish Delacroix Desrosiers Drummond
Dunmore Eberhardt Ellingsworth Esposito Fairbanks Falkenrath Fenwick
Fitzgerald Fontaine Galbraith Gallagher Giordano Grantham Greenhalgh Gutierrez
Hadley Halvorsen Hargreaves Hawthorne Heathcote Holloway Ibarra Inglewood
Iwasaki Jablonski Jankowski Jessop Kaminski Kavanagh Kettleborough Kowalczyk
Krishnamurthy Lachance Langford Lindqvist Llewellyn Lockhart Lundgren
Macallister Mahoney Marchetti Mcallister Merriweather Montgomery Moreau
Nakamura Nightingale Nordstrom Oakenshield Ocampo Okonkwo Ostrowski Pemberton
Pennington Petrakis Prendergast Quackenbush Radcliffe Rasmussen Ravenscroft
Rosenthal Rutherford Saltonstall Sandoval Schumacher Sinclair Slattery
Sorensen Stanhope Sutherland Takahashi Tennyson Thistlewood Trevelyan
Underhill Valdivia Vanderbilt Villanueva Wainwright Wetherby Whitaker
Wolfenden Yamamoto Yardley Zabriskie Zimmerman""".split()

STEM_A = """Amber Arctic Azure Bright Cedar Cobalt Copper Crimson Crystal Eastern
Emerald Golden Granite Harbor Hidden Iron Ivory Jade Lunar Maple Meridian
Midnight Northern Oak Onyx Pacific Pine Prairie Quartz Radiant Red River
Sable Scarlet Silver Solar Southern Sterling Stone Summit Swift Timber Twin
Velvet Western Willow Winter""".split()

STEM_B = """Anchor Arrow Beacon Bridge Canyon Castle Comet Crest Delta Falcon
Field Forge Fox Gate Grove Hawk Haven Hill Lake Lantern Ledger Lion Meadow
Mill Orchard Peak Pier Point Quarry Ridge Rock Sail Shore Spring Star Tide
Tower Trail Vale View Wave Well Wolf Wood Yard""".split()

INDUSTRY = """Analytics Bakery Biologics Capital Ceramics Consulting Dynamics
Electric Energy Engineering Foods Freight Holdings Imaging Instruments
Insurance Logistics Marine Media Medical Metals Mining Motors Networks Optics
Partners Pharma Plastics Publishing Realty Robotics Security Shipping Software
Studios Systems Textiles Therapeutics Tooling Transit Ventures Vineyards""".split()

LEGAL_SUFFIX = ["Inc", "Inc.", "LLC", "Ltd", "Ltd.", "Group", "Co.", "Corporation"]


@dataclass
class ResolveCorpus:
    docs: list[dict]                            # episode rows (see episode_rows)
    triples: list[tuple]                        # (doc_id, subj, predicate, obj, year)
    truth: dict[tuple[str, str], str]           # (group_id, surface form) -> true entity id


def _person_variants(rng: random.Random, first: str, last: str) -> list[str]:
    kinds = [
        f"{first[0]}. {last}",                  # initials
        f"{first.upper()} {last.upper()}",      # case
        f"{last}, {first}",                     # punctuation / order
        f"{first} {last} Jr.",                  # suffix
    ]
    return rng.sample(kinds, rng.randint(1, MAX_VARIANTS))


def _org_variants(rng: random.Random, stem: str) -> list[str]:
    words = stem.split()
    kinds = [
        f"{stem} {rng.choice(LEGAL_SUFFIX)}",   # suffix
        stem.lower(),                           # case
        f"{words[0]}-{words[1]} {' '.join(words[2:])}",   # punctuation
        f"{stem}, {rng.choice(['Inc.', 'Ltd.', 'LLC'])}",  # punctuation + suffix
    ]
    return rng.sample(kinds, rng.randint(1, MAX_VARIANTS))


def _lookalike(rng: random.Random, kind: str, parts: tuple[str, ...]) -> tuple[str, ...]:
    """A different entity whose name shares most of ``parts``."""
    if kind == "person":
        first, last = parts
        same_initial = [f for f in FIRST if f[0] == first[0] and f != first]
        return (rng.choice(same_initial or FIRST), last)
    a, b, ind = parts
    return (a, b, rng.choice([i for i in INDUSTRY if i != ind]))


def generate(seed: int, n_entities: int) -> ResolveCorpus:
    """``n_entities`` true base entities (look-alike siblings come on
    top), spread over ``N_GROUPS`` groups, drawn from ``VOCAB_SEED``; the
    documents are deterministic in ``seed``."""
    rng = random.Random(VOCAB_SEED)
    used: set[tuple[str, ...]] = set()
    forms_by_group: dict[str, list[tuple[str, str]]] = {}
    truth: dict[tuple[str, str], str] = {}

    def new_entity(group: str, kind: str, parts: tuple[str, ...]) -> None:
        used.add(parts)
        eid = f"{group}/{'|'.join(parts)}"
        canonical = " ".join(parts)
        variants = []
        if rng.random() < VARIANT_SHARE:
            variants = (
                _person_variants(rng, *parts) if kind == "person"
                else _org_variants(rng, canonical)
            )
        for form in [canonical, *variants]:
            # a variant spelling that collides with another entity's
            # form would make the truth ambiguous: keep the first owner
            if (group, form) not in truth:
                truth[(group, form)] = eid
                forms_by_group.setdefault(group, []).append((form, eid))

    def draw(kind: str) -> tuple[str, ...]:
        while True:
            if kind == "person":
                parts = (rng.choice(FIRST), rng.choice(SURNAMES))
            else:
                parts = (rng.choice(STEM_A), rng.choice(STEM_B), rng.choice(INDUSTRY))
            if parts not in used:
                return parts

    for i in range(n_entities):
        group = f"er{i % N_GROUPS}"
        kind = "person" if rng.random() < PERSON_SHARE else "org"
        parts = draw(kind)
        new_entity(group, kind, parts)
        if rng.random() < LOOKALIKE_SHARE:
            sib = _lookalike(rng, kind, parts)
            if sib not in used:
                new_entity(group, kind, sib)

    rng = random.Random(seed)
    docs: list[dict] = []
    triples: list[tuple] = []
    for g in sorted(forms_by_group):
        forms = forms_by_group[g]
        # every surface form appears at least once, plus random extras
        slots = [f for f in forms] + [
            rng.choice(forms) for _ in range(int(len(forms) * EXTRA_MENTIONS))
        ]
        rng.shuffle(slots)
        sentences: list[tuple[str, str]] = []
        while len(slots) >= 2:
            a = slots.pop()
            b = slots.pop()
            if a[1] == b[1]:                   # never relate an entity to itself
                b = rng.choice([f for f in forms if f[1] != a[1]])
            sentences.append((a[0], b[0]))
        if slots:
            a = slots.pop()
            sentences.append((a[0], rng.choice([f for f in forms if f[1] != a[1]])[0]))
        while sentences:
            k = min(len(sentences), rng.randint(*SENTENCES_PER_DOC))
            doc_id = f"er-{seed}-{len(docs):06d}"
            texts = []
            for subj, obj in sentences[-k:]:
                pred, phrase = rng.choice(PREDICATES)
                year = rng.randint(*YEARS)
                speaker = rng.choice(SPEAKERS)
                texts.append(f"{speaker}: {subj} {phrase} {obj} since {year}.")
                triples.append((doc_id, subj, pred, obj, year))
            del sentences[-k:]
            docs.append({"doc_id": doc_id, "group_id": g, "texts": texts, "n": len(docs)})
    for g in forms_by_group:
        for s in SPEAKERS:
            truth[(g, s)] = f"{g}/speaker/{s}"
    return ResolveCorpus(docs=docs, triples=triples, truth=truth)


def episode_rows(corpus: ResolveCorpus) -> list[tuple]:
    """Rows in ``graphiti_spark.schemas.EPISODES_SCHEMA`` column order."""
    import datetime as dt

    created = dt.datetime(2025, 1, 1)
    epoch = dt.datetime(2024, 1, 1)
    return [
        (
            d["doc_id"],
            d["group_id"],
            f"episode {d['doc_id']}",
            "message",
            "entity-resolution corpus",
            [
                {"kind": "text", "text": t, "media_ref": "", "offset": i}
                for i, t in enumerate(d["texts"])
            ],
            created,
            epoch + dt.timedelta(minutes=d["n"]),
        )
        for d in corpus.docs
    ]
