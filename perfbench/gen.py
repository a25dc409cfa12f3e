"""Seeded input generators and their reference answers.

Everything here is plain Python over the generator's own data: the
reference answers the workloads check against are computed from the same
records that are written to disk, never by the engine under test.

Two corpora:

- an FtM entity corpus (Company/Person/Organization parties with planted
  exact-name and near-name duplicates, Address entities, Payment entities
  carrying entity refs, amounts and partial dates) spread over three
  datasets, plus seeded upsert batches that re-emit existing entities with
  a later ``last_seen`` and some changed values;
- a document corpus for the training-data pipeline with planted exact,
  near and substring duplicates and documents that fail the quality gate.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

DATASETS = ("ds_a", "ds_b", "ds_c")
COUNTRIES = ("de", "fr", "gb", "us", "ru", "cy", "pa", "vg", "nl", "ch", "lu", "mt")
CURRENCIES = ("EUR", "USD", "GBP", "CHF")
PARTY_SCHEMAS = ("Company", "Person", "Organization")
#: entity-typed props the corpus uses and the reverse edge name FtM shows
#: on the referenced entity
REVERSE = {"payer": "paymentsMade", "beneficiary": "paymentsReceived",
           "addressEntity": "things"}
#: props whose values are FtM name-typed (what ``Query.search`` scans)
NAME_PROPS = ("name", "alias")
COUNTRY_PROPS = ("country", "jurisdiction", "nationality")
BASE_SEEN = "2024-01-01 00:00:00"

_ONSETS = "b c d f g h j k l m n p r s t v w z br dr gr kr st tr pl".split()
_VOWELS = "a e i o u ai ou ei".split()
_CODAS = ["", "", "", "n", "r", "s", "l", "x", "rt", "nd"]


def _vocab(rng: random.Random, n: int, min_syl: int = 2, max_syl: int = 3) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        w = "".join(
            rng.choice(_ONSETS) + rng.choice(_VOWELS)
            for _ in range(rng.randint(min_syl, max_syl))
        ) + rng.choice(_CODAS)
        words.add(w)
    return sorted(words)


def _partial_date(rng: random.Random, lo: int = 2005, hi: int = 2023) -> str:
    y = rng.randint(lo, hi)
    kind = rng.random()
    if kind < 0.2:
        return f"{y}"
    if kind < 0.45:
        return f"{y}-{rng.randint(1, 12):02d}"
    return f"{y}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"


def _amount(rng: random.Random) -> str:
    return f"{rng.randint(100, 2_000_000) / 100:.2f}"


@dataclass
class Entity:
    id: str
    schema: str
    dataset: str
    props: dict[str, set[str]] = field(default_factory=dict)

    def caption(self) -> str | None:
        for p in {"Address": ("full",), "Payment": ("purpose",)}.get(
            self.schema, ("name",)
        ):
            if self.props.get(p):
                return min(self.props[p])
        return None

    def as_json(self) -> dict:
        return {
            "id": self.id,
            "schema": self.schema,
            "caption": self.caption(),
            "properties": {k: sorted(v) for k, v in sorted(self.props.items())},
            "datasets": [self.dataset],
        }

    def statement_count(self) -> int:
        """Live statements: one per (prop, value) plus the id statement."""
        return 1 + sum(len(v) for v in self.props.values())

    def copy(self) -> "Entity":
        return Entity(self.id, self.schema, self.dataset,
                      {k: set(v) for k, v in self.props.items()})


class Corpus:
    """The entity state a store should hold, plus the planted structure."""

    def __init__(self, seed: int, entities_per_dataset: int):
        self.seed = seed
        self.rng = random.Random(seed)
        self.entities: dict[str, Entity] = {}
        #: groups of entity ids sharing one exact name across datasets
        self.exact_groups: list[list[str]] = []
        self._upserts = 0
        self._build(entities_per_dataset)

    # --- construction -------------------------------------------------------
    def _new_id(self, ds: str, kind: str, i: int) -> str:
        return f"{ds}-{kind[:3].lower()}-{self.seed % 100000:05d}-{i:05d}"

    def _build(self, n: int) -> None:
        rng = self.rng
        words = _vocab(rng, max(400, n * 2))
        self.words = words
        n_party = int(n * 0.55)
        n_addr = int(n * 0.15)
        n_pay = n - n_party - n_addr
        parties: dict[str, list[str]] = {}
        for ds in DATASETS:
            ids: list[str] = []
            addrs: list[str] = []
            for i in range(n_addr):
                e = Entity(self._new_id(ds, "Address", i), "Address", ds)
                city = rng.choice(words).title()
                e.props = {
                    "full": {f"{rng.randint(1, 300)} {rng.choice(words).title()} Street, {city}"},
                    "city": {city},
                    "country": {rng.choice(COUNTRIES)},
                }
                self.entities[e.id] = e
                addrs.append(e.id)
            for i in range(n_party):
                schema = PARTY_SCHEMAS[i % 3]
                e = Entity(self._new_id(ds, schema, i), schema, ds)
                name = " ".join(rng.sample(words, 2)).title()
                e.props["name"] = {name}
                if schema == "Company":
                    e.props["jurisdiction"] = {rng.choice(COUNTRIES)}
                    e.props["incorporationDate"] = {_partial_date(rng, 1990, 2020)}
                    e.props["registrationNumber"] = {f"HRB{rng.randint(10000, 999999)}"}
                    if rng.random() < 0.5:
                        e.props["addressEntity"] = {rng.choice(addrs)}
                elif schema == "Person":
                    e.props["nationality"] = {rng.choice(COUNTRIES)}
                    e.props["birthDate"] = {_partial_date(rng, 1940, 2000)}
                else:
                    e.props["country"] = {rng.choice(COUNTRIES)}
                self.entities[e.id] = e
                ids.append(e.id)
            parties[ds] = ids
            for i in range(n_pay):
                e = Entity(self._new_id(ds, "Payment", i), "Payment", ds)
                payer, beneficiary = rng.sample(ids, 2)
                e.props = {
                    "payer": {payer},
                    "beneficiary": {beneficiary},
                    "amount": {_amount(rng)},
                    "amountEur": {_amount(rng)},
                    "currency": {rng.choice(CURRENCIES)},
                    "date": {_partial_date(rng)},
                    "purpose": {f"{rng.choice(words)} {rng.choice(words)} services"},
                }
                self.entities[e.id] = e
        # planted duplicates: a party of ds_a re-appears under another id
        # in ds_b (and sometimes ds_c) with the exact same name (exact
        # group), or with one letter changed (near pair)
        n_plant = min(max(2, n_party // 10), n_party // 2)
        src = rng.sample(parties["ds_a"], 2 * n_plant)
        for k, sid in enumerate(src[:n_plant]):
            group = [sid]
            targets = ["ds_b", "ds_c"] if k % 2 else ["ds_b"]
            for ds in targets:
                tid = rng.choice(parties[ds])
                self.entities[tid].schema = self.entities[sid].schema
                self._retype(tid)
                self.entities[tid].props["name"] = set(self.entities[sid].props["name"])
                group.append(tid)
            self.exact_groups.append(group)
        planted = {i for g in self.exact_groups for i in g}
        for sid in src[n_plant:]:
            tid = rng.choice(parties["ds_c"])
            if tid in planted:
                continue
            name = next(iter(self.entities[sid].props["name"]))
            pos = rng.randrange(len(name))
            while not name[pos].isalpha():
                pos = rng.randrange(len(name))
            ch = "x" if name[pos].lower() != "x" else "q"
            near = name[:pos] + (ch.upper() if name[pos].isupper() else ch) + name[pos + 1:]
            self.entities[tid].props["name"] = {near}
            planted.add(tid)
        # several groups may have claimed the same target: keep each
        # exact group only if its names still agree
        self.exact_groups = [
            g for g in self.exact_groups
            if len({frozenset(self.entities[i].props["name"]) for i in g}) == 1
        ]

    def _retype(self, eid: str) -> None:
        """Give a party the props of its (new) schema, keeping its name."""
        e = self.entities[eid]
        keep = {"name": e.props["name"]}
        rng = self.rng
        if e.schema == "Company":
            keep["jurisdiction"] = {rng.choice(COUNTRIES)}
        elif e.schema == "Person":
            keep["nationality"] = {rng.choice(COUNTRIES)}
        else:
            keep["country"] = {rng.choice(COUNTRIES)}
        e.props = keep

    # --- upserts -----------------------------------------------------------
    def upsert_batch(self, share: float = 0.10, changed: float = 0.5) -> tuple[list[dict], str]:
        """Re-emit ``share`` of the entities with a later ``last_seen``;
        ``changed`` of those carry a new value for one prop. Applies the
        batch to the reference state and returns (json rows, last_seen).
        An append never removes a statement, so a changed value adds to
        the entity's values (the old statement stays live)."""
        self._upserts += 1
        rng = random.Random(self.seed * 7919 + self._upserts)
        ids = sorted(self.entities)
        chosen = rng.sample(ids, max(1, int(len(ids) * share)))
        rows = []
        for eid in chosen:
            e = self.entities[eid]
            emitted = e.copy()
            if rng.random() < changed:
                prop, value = self._changed_value(rng, e)
                emitted.props[prop] = {value}
                e.props.setdefault(prop, set()).add(value)
            rows.append(emitted.as_json())
        return rows, f"2024-{1 + self._upserts % 12:02d}-15 00:00:00"

    def _changed_value(self, rng: random.Random, e: Entity) -> tuple[str, str]:
        if e.schema == "Payment":
            return "amountEur", _amount(rng)
        if e.schema == "Address":
            return "city", rng.choice(self.words).title()
        return "alias", " ".join(rng.sample(self.words, 2)).title()

    # --- files -------------------------------------------------------------
    def write_datasets(self, root: str) -> dict[str, str]:
        """One FtM JSON-lines file per dataset; returns dataset → path."""
        paths = {}
        for ds in DATASETS:
            path = os.path.join(root, f"{ds}.ijson")
            with open(path, "w") as fh:
                for e in self.entities.values():
                    if e.dataset == ds:
                        fh.write(json.dumps(e.as_json()) + "\n")
            paths[ds] = path
        return paths

    # --- reference answers --------------------------------------------------
    def names(self, eid: str) -> frozenset[str]:
        """Every name-typed value of an entity."""
        props = self.entities[eid].props
        return frozenset(v for p in NAME_PROPS for v in props.get(p, ()))

    def live_statements(self) -> int:
        return sum(e.statement_count() for e in self.entities.values())

    def entity(self, eid: str) -> dict:
        e = self.entities[eid]
        return {
            "id": e.id,
            "caption": e.caption(),
            "schema": e.schema,
            "properties": {k: sorted(v) for k, v in e.props.items()},
            "datasets": [e.dataset],
            "referents": [],
        }

    def refs(self) -> dict[str, set[tuple[str, str]]]:
        """referenced id → {(reverse prop, referencing id)}."""
        refs: dict[str, set[tuple[str, str]]] = {}
        for e in self.entities.values():
            for p, rev in REVERSE.items():
                for v in e.props.get(p, ()):
                    refs.setdefault(v, set()).add((rev, e.id))
        return refs

    def inverted(self, eid: str) -> set[tuple[str, str]]:
        return self.refs().get(eid, set())

    def adjacent(self, eid: str) -> set[tuple[str, str, str]]:
        e = self.entities[eid]
        out = {("out", p, v) for p in REVERSE for v in e.props.get(p, ())}
        return out | {("in", p, i) for p, i in self.inverted(eid)}

    def top_payments(self, year: int, n: int) -> list[str]:
        """Q().where(schema="Payment", date__gte=year)
        .order_by("amountEur", ascending=False)[:n] — date values compare
        as strings, the order key is the max numeric value, ties by id."""
        hits = []
        for e in self.entities.values():
            if e.schema != "Payment":
                continue
            if not any(d >= str(year) for d in e.props.get("date", ())):
                continue
            vals = e.props.get("amountEur", set())
            hits.append((-max(float(v) for v in vals), e.id))
        return [i for _, i in sorted(hits)[:n]]

    def search(self, term: str, schema: str, n: int) -> list[str]:
        """Q().where(schema=...).search(term)[:n] — id order."""
        t = term.lower()
        ids = sorted(
            e.id for e in self.entities.values()
            if e.schema == schema
            and any(t in v.lower() for v in self.names(e.id))
        )
        return ids[:n]

    def payment_sums(self, groups: str) -> tuple[float, dict[str, float]]:
        """Q().where(schema="Payment").aggregate("sum", "amountEur",
        groups=...) — (total, first 11 groups in group order)."""
        total = 0.0
        per: dict[str, float] = {}
        for e in self.entities.values():
            if e.schema != "Payment":
                continue
            vals = [float(v) for v in e.props.get("amountEur", ())]
            total += sum(vals)
            if groups == "year":
                keys = {d[:4] for d in e.props.get("date", ())}
            else:
                keys = set(e.props.get(groups, ()))
            for k in keys:
                per[k] = per.get(k, 0.0) + sum(vals)
        return total, {k: per[k] for k in sorted(per)[:11]}

    def stats(self) -> dict:
        schemata: dict[str, int] = {}
        countries: dict[str, set[str]] = {}
        for e in self.entities.values():
            schemata[e.schema] = schemata.get(e.schema, 0) + 1
            for p in COUNTRY_PROPS:
                for v in e.props.get(p, ()):
                    countries.setdefault(v, set()).add(e.id)
        return {
            "entity_count": len(self.entities),
            "schemata": schemata,
            "countries": {k: len(v) for k, v in countries.items()},
        }


# --- documents ----------------------------------------------------------------

STOPWORDS = "the and of to in a is that for it with as was on be by this are from".split()
SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


@dataclass
class Documents:
    rows: list[tuple[int, str]]
    exact_groups: list[list[int]]
    unique: list[int]
    short: list[int]


def make_documents(seed: int, n_docs: int) -> Documents:
    """Seeded document corpus. ~70 % unique multi-line documents, and
    planted: exact-duplicate groups (2-3 copies), near duplicates (a few
    words changed), substring duplicates (a long span copied into another
    document) and short documents the quality gate must drop."""
    rng = random.Random(seed)
    words = _vocab(rng, 3000, 1, 3)

    def line() -> str:
        toks = [rng.choice(words) for _ in range(rng.randint(9, 14))]
        for _ in range(3):
            toks.insert(rng.randrange(len(toks)), rng.choice(STOPWORDS))
        return " ".join(toks)

    def doc() -> str:
        return "\n".join(line() for _ in range(rng.randint(3, 6)))

    rows: list[tuple[int, str]] = []
    ids = iter(rng.sample(range(1, 10 * n_docs), n_docs + 64))
    unique, short, groups = [], [], []
    n_unique = int(n_docs * 0.70)
    for _ in range(n_unique):
        i = next(ids)
        rows.append((i, doc()))
        unique.append(i)
    while len(rows) < n_docs:
        kind = rng.random()
        if kind < 0.35:
            text = doc()
            g = [next(ids) for _ in range(rng.randint(2, 3))]
            rows.extend((i, text) for i in g)
            groups.append(g)
        elif kind < 0.65:
            base = doc()
            toks = base.split(" ")
            for _ in range(2):
                toks[rng.randrange(len(toks))] = rng.choice(words)
            rows.append((next(ids), base))
            rows.append((next(ids), " ".join(toks)))
        elif kind < 0.85:
            span = " ".join(rng.choice(words) for _ in range(24))
            rows.append((next(ids), doc() + "\n" + span + " " + line()))
            rows.append((next(ids), line() + " " + span + "\n" + doc()))
        else:
            i = next(ids)
            rows.append((i, " ".join(rng.choice(words) for _ in range(4))))
            short.append(i)
    rng.shuffle(rows)
    return Documents(rows, groups, unique, short)
