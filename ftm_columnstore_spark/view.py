"""View facade — the reference's user-facing API surface, name-for-name
(nomenklatura ``SQLView`` / ftmq usage exercised in reference
``tests/test_store.py``), so a reference user can switch with minimal
edits:

    store = get_store("/data/store")          # reference: get_store(...)
    view = store.view()                       # reference: store.view(...)
    view.get_entity("abc123")                 # → dict (FtM shape)
    view.entities(Q().where(schema="Payment", date__gte=2011))
    view.get_inverted("abc123")
    view.get_adjacent("abc123")
    view.stats(dataset="donations")
    view.aggregations(Q().aggregate("sum", "amountEur"))

Python-side the results are plain dicts/iterators (like the reference);
each method also has a ``*_df`` twin returning the DataFrame for users
staying distributed.

Answer cache: ``get_entity``, ``get_adjacent``, ``get_inverted``,
``stats``, ``aggregations`` and ``entities(q)`` with ``q.limit`` set (up
to ``MAX_CACHED_ROWS``) are answered from the store's shared LRU
(``Store.answers``) when the same call was answered before at the same
write epoch. The cache is used only while the store is compacted, has no
resolver installed and does not serve a bucketed snapshot
(``Store.answer_token``); otherwise every call runs its Spark jobs as
before. So do calls whose arguments cannot be hashed (a ``Query`` with
a list-valued ``__in`` criterion) and unlimited ``entities()``, which
streams through ``toLocalIterator``. An answer is kept only if the token
is unchanged after its compute, so a read overlapping a write is never
cached, and callers always get their own deep copy. The store's epoch
contract therefore governs View answers too: a writer that adds files
without ``Store.bump_epoch()`` leaves stale answers, not just a skipped
dedup.
"""

from __future__ import annotations

import dataclasses
from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import DataFrame

from ftm_columnstore_spark.plans.query import Query
from ftm_columnstore_spark.store import Store, in_datasets


#: largest ``entities(q)`` limit whose answer is collected and cached;
#: larger ones stream like an unlimited query
MAX_CACHED_ROWS = 1000


def _entity_dict(row) -> dict[str, Any]:
    d = row.asDict(recursive=True)
    d["properties"] = dict(d.get("properties") or {})
    return d


def _freeze(value: Any) -> Any:
    """A hashable, type-tagged form of a call argument. The type tag
    keeps ``1``, ``1.0`` and ``True`` apart: they are equal in Python but
    compile to different filters. Raises TypeError for values that cannot
    be hashed (lists, dicts, sets inside a Query)."""
    if dataclasses.is_dataclass(value) and not isinstance(value, type):
        return type(value), tuple(
            _freeze(getattr(value, f.name)) for f in dataclasses.fields(value)
        )
    if isinstance(value, tuple):
        return tuple, tuple(_freeze(v) for v in value)
    if isinstance(value, float):
        return float, repr(value)
    hash(value)
    return type(value), value


def _scope(dataset: str | list[str] | None) -> str | tuple[str, ...] | None:
    """A dataset scope as a cache-key part (a catalog list → tuple)."""
    return tuple(dataset) if isinstance(dataset, list) else dataset


class View:
    def __init__(self, store: Store, dataset: str | list[str] | None = None):
        """``dataset`` may be a single name or a catalog (list) — the
        reference opens stores over multi-dataset catalogs (U1)."""
        self.store = store
        self.dataset = dataset

    def _statements(self) -> DataFrame:
        return self.store.statements(dataset=self.dataset)

    def _cached(self, method: str, args: tuple, compute: Callable[[], Any]):
        """``compute()``, answered from the store's answer cache when the
        store has a validity token and the arguments can be hashed."""
        token = self.store.answer_token()
        if token is None:
            return compute()
        try:
            key = (token, _freeze(_scope(self.dataset)), method, _freeze(args))
        except TypeError:
            return compute()
        cache = self.store.answers
        answer = cache.get(key)
        if answer is not cache.MISS:
            return answer
        answer = compute()
        # keep it only if no write began since the first token read:
        # every writer bumps the epoch before its job commits
        if self.store.answer_token() == token:
            cache.put(key, answer)
        return answer

    # --- entities -----------------------------------------------------------
    def get_entity(self, entity_id: str) -> dict[str, Any] | None:
        from ftm_columnstore_spark.operators.assembly import get_entity

        def compute():
            rows = get_entity(self._statements(), entity_id).collect()
            return _entity_dict(rows[0]) if rows else None

        return self._cached("get_entity", (entity_id,), compute)

    def entities_df(self, q: Query | None = None) -> DataFrame:
        from ftm_columnstore_spark.operators.assembly import assemble_entities
        from ftm_columnstore_spark.plans.compiler import compile_entities

        if q is None:
            return assemble_entities(self._statements())
        return compile_entities(self._statements(), q)

    def entities(self, q: Query | None = None) -> Iterator[dict[str, Any]]:
        if q is None or q.limit is None or q.limit > MAX_CACHED_ROWS:
            for row in self.entities_df(q).toLocalIterator():
                yield _entity_dict(row)
            return
        yield from self._cached(
            "entities",
            (q,),
            lambda: [_entity_dict(r) for r in self.entities_df(q).collect()],
        )

    # --- graph --------------------------------------------------------------
    def _entity_refs(self) -> DataFrame:
        """Reverse-lookup source: the value-clustered index when built
        (file-pruned point lookup), else the dataset-scoped main table."""
        idx = self.store.value_index()
        if idx is None:
            return self._statements()
        return in_datasets(idx, self.dataset)

    def get_inverted(self, entity_id: str) -> Iterator[tuple[str, str]]:
        from ftm_columnstore_spark.operators.graph import inverted

        yield from self._cached(
            "get_inverted",
            (entity_id,),
            lambda: [
                (row["prop"], row["entity_id"])
                for row in inverted(self._entity_refs(), entity_id).collect()
            ],
        )

    def get_adjacent(self, entity_id: str) -> Iterator[tuple[str, str, str]]:
        from ftm_columnstore_spark.operators.graph import adjacent

        yield from self._cached(
            "get_adjacent",
            (entity_id,),
            lambda: [
                (row["direction"], row["prop"], row["neighbour_id"])
                for row in adjacent(self._statements(), entity_id).collect()
            ],
        )

    def get_expanded(
        self, entity_id: str, hops: int = 2
    ) -> Iterator[tuple[str, int]]:
        """K-hop neighbourhood (extension beyond the reference's 1-hop
        get_adjacent): yields (entity_id, min_hop_distance)."""
        from ftm_columnstore_spark.operators.graph import expand

        for row in expand(self._statements(), [entity_id], hops).collect():
            yield row["id"], row["dist"]

    # --- reporting ----------------------------------------------------------
    def stats(self, dataset: str | None = None) -> dict[str, Any]:
        from ftm_columnstore_spark.operators.aggregations import stats

        scope = dataset or self.dataset
        return self._cached(
            "stats",
            (_scope(scope),),
            lambda: stats(self._statements(), dataset=scope),
        )

    def aggregations(self, q: Query) -> dict[str, Any]:
        from ftm_columnstore_spark.plans.compiler import compile_aggregations

        return self._cached(
            "aggregations",
            (q,),
            lambda: compile_aggregations(self._statements(), q),
        )

    def profile(self, cols: list[str] | None = None, p: int = 8) -> list[dict]:
        """One-pass sketch profile of the statement table (value/null
        counts + HLL distinct estimate per column) — the approximate,
        single-scan sibling of :meth:`stats` for 100 TB stores where a
        per-column count-distinct would shuffle every keyspace."""
        from ftm_columnstore_spark.operators.sketches import profile_columns

        return [
            r.asDict()
            for r in profile_columns(self._statements(), cols, p=p)
            .orderBy("column")
            .collect()
        ]
