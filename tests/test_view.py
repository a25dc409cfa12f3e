"""View facade — reference user-facing API parity
(reference tests/test_store.py usage shapes)."""

import pytest

from ftm_columnstore_spark.plans.query import Q
from ftm_columnstore_spark.store import Store


@pytest.fixture()
def view(spark, tmp_path, entities_df):
    store = Store(spark, str(tmp_path / "s"))
    store.ensure()
    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    return store.view()


def test_get_entity(view):
    e = view.get_entity("org-acme")
    assert e["caption"] == "Acme Holding AG"
    assert e["properties"]["country"] == ["de"]
    assert view.get_entity("nope") is None


def test_entities_with_query(view):
    got = sorted(e["id"] for e in view.entities(Q().where(schema="Payment")))
    assert got == ["pay-1", "pay-2", "pay-3"]
    assert len(list(view.entities())) == 10


def test_get_inverted(view):
    got = sorted(view.get_inverted("org-acme"))
    assert got == [("paymentsReceived", "pay-1"), ("paymentsReceived", "pay-2")]


def test_get_adjacent(view):
    got = sorted(view.get_adjacent("per-carol"))
    assert ("out", "addressEntity", "addr-1") in got
    assert ("in", "paymentsMade", "pay-2") in got


def test_stats_and_aggregations(view):
    s = view.stats(dataset="grants")
    assert s["entity_count"] == 7
    agg = view.aggregations(
        Q().where(schema="Payment").aggregate("sum", "amountEur")
    )
    assert agg["sum"]["amountEur"] == 371201.5


def test_catalog_view(spark, tmp_path, entities_df):
    store = Store(spark, str(tmp_path / "cat"))
    store.ensure()
    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    both = store.view(dataset=["grants", "registry"])
    assert len(list(both.entities())) == 10
    one = store.view(dataset=["registry"])
    assert len(list(one.entities())) == 3


def test_get_expanded(view):
    got = dict(view.get_expanded("addr-1", hops=2))
    assert got["addr-1"] == 0
    assert got.get("org-acme") == 1
    assert got.get("pay-1") == 2


def test_view_profile(view):
    prof = {r["column"]: r for r in view.profile(["schema", "canonical_id"])}
    assert set(prof) == {"schema", "canonical_id"}
    assert prof["schema"]["n_nulls"] == 0
    assert prof["schema"]["n_distinct_est"] >= 1
    assert prof["canonical_id"]["n_values"] > 0


# --- answer cache --------------------------------------------------------------

LATER = "2024-02-01 00:00:00"


def _entities(spark, *specs):
    """(id, schema, props) triples → an entity frame in dataset grants."""
    from ftm_columnstore_spark.model.schemas import ENTITY_SCHEMA

    rows = [(i, None, schema, props, ["grants"], []) for i, schema, props in specs]
    return spark.createDataFrame(rows, ENTITY_SCHEMA)


def test_answer_cache_is_a_bounded_lru(monkeypatch):
    import ftm_columnstore_spark.store as store_mod

    monkeypatch.setattr(store_mod, "ANSWER_CACHE_SIZE", 2)
    cache = store_mod.AnswerCache()
    cache.put("a", {"n": [1]})
    cache.put("b", None)
    assert cache.get("a") == {"n": [1]}  # "a" is now the most recent
    cache.put("c", 3)
    assert cache.get("b") is cache.MISS
    assert cache.get("a") == {"n": [1]} and cache.get("c") == 3
    assert len(cache) == 2 and (cache.hits, cache.misses) == (3, 1)


@pytest.fixture()
def compacted(spark, tmp_path, entities_df):
    store = Store(spark, str(tmp_path / "c"))
    store.ensure()
    store.write_entities(entities_df, last_seen="2024-01-01 00:00:00")
    store.optimize()
    assert store.answer_token() is not None
    return store


def test_answer_cache_repeated_read_is_equal(compacted):
    view = compacted.view()
    pay_q = Q().where(schema="Payment").order_by("amountEur")[:10]
    agg_q = Q().where(schema="Payment").aggregate("sum", "amountEur")
    reads = [
        lambda: view.get_entity("org-acme"),
        lambda: view.get_entity("nope"),
        lambda: sorted(view.get_adjacent("per-carol")),
        lambda: sorted(view.get_inverted("org-acme")),
        lambda: view.stats(dataset="grants"),
        lambda: view.aggregations(agg_q),
        lambda: list(view.entities(pay_q)),
    ]
    first = [read() for read in reads]
    hits = compacted.answers.hits
    # a second View of the same store shares the cache
    view = compacted.view()
    assert [read() for read in reads] == first
    assert compacted.answers.hits == hits + len(reads)
    assert first[1] is None
    assert [e["id"] for e in first[6]] == ["pay-3", "pay-1", "pay-2"]
    assert first[5]["sum"]["amountEur"] == 371201.5


def test_answer_cache_hands_out_copies(compacted):
    view = compacted.view()
    e = view.get_entity("org-acme")
    e["properties"]["country"].append("xx")
    e["caption"] = "changed"
    s = view.stats()
    s["entity_count"] = -1
    assert view.get_entity("org-acme")["properties"]["country"] == ["de"]
    assert view.get_entity("org-acme")["caption"] == "Acme Holding AG"
    assert view.stats()["entity_count"] == 10


def test_answer_cache_keys_keep_value_types_apart(compacted):
    """2009 and 2009.0 are equal in Python but compile to different
    string filters; the cache must not answer one with the other."""
    view = compacted.view()
    as_int = list(view.entities(Q().where(schema="Payment", date__gte=2009)[:10]))
    as_float = list(
        view.entities(Q().where(schema="Payment", date__gte=2009.0)[:10])
    )
    assert sorted(e["id"] for e in as_int) == ["pay-2", "pay-3"]
    assert as_float == []


def _out_of_band_then_bump(store, new):
    """A writer that appends files itself stays in contract only by
    bumping the epoch: before the bump the cache still answers."""
    from ftm_columnstore_spark.model.schemas import STATEMENT_COLUMNS
    from ftm_columnstore_spark.sources.statements import entities_to_statements

    (
        entities_to_statements(new, last_seen=LATER)
        .select(*STATEMENT_COLUMNS)
        .write.mode("append")
        .partitionBy("dataset")
        .parquet(store._path)
    )
    assert store.view().get_entity("org-new") is None
    store.bump_epoch()


@pytest.mark.parametrize(
    "mutation, target, present_after",
    [
        ("write_entities", "org-new", True),
        ("optimize", "org-new", True),
        ("pop", "org-acme", False),
        ("drop", "org-acme", False),
        ("bump_epoch", "org-new", True),
    ],
)
def test_answer_cache_sees_every_write(
    compacted, spark, mutation, target, present_after
):
    new = _entities(spark, ("org-new", "Company", {"name": ["New Co"]}))
    mutate = {
        "write_entities": lambda: compacted.write_entities(new, last_seen=LATER),
        "optimize": lambda: (
            compacted.write_entities(new, last_seen=LATER),
            compacted.optimize(),
        ),
        "pop": lambda: compacted.pop("org-acme"),
        "drop": compacted.drop,
        "bump_epoch": lambda: _out_of_band_then_bump(compacted, new),
    }[mutation]
    view = compacted.view()
    before = view.get_entity(target)
    count = view.stats()["entity_count"]
    hits = compacted.answers.hits
    assert view.get_entity(target) == before  # now answered from the cache
    assert compacted.answers.hits == hits + 1
    mutate()
    after = view.get_entity(target)
    assert (after is not None) == present_after
    assert (before is not None) != present_after
    want = 0 if mutation == "drop" else count + (1 if present_after else -1)
    assert view.stats()["entity_count"] == want


def test_answer_cache_bypassed_with_resolver(compacted, spark):
    view = compacted.view()
    cmap = spark.createDataFrame(
        [("org-acme", "canon-1"), ("org-beta", "canon-1")],
        ["entity_id", "canonical_id"],
    )
    compacted.set_resolver(cmap)
    assert compacted.answer_token() is None
    merged = view.get_entity("canon-1")
    assert sorted(merged["referents"]) == ["org-acme", "org-beta"]
    assert view.get_entity("canon-1") == merged
    assert len(compacted.answers) == 0 and compacted.answers.hits == 0
    compacted.set_resolver(None)
    assert view.get_entity("canon-1") is None
    assert len(compacted.answers) == 1


def test_answer_cache_bypassed_with_bucketed_snapshot(compacted):
    table = "stmts_bucketed_answer_cache"
    try:
        compacted.to_bucketed_table(table, buckets=4)
        compacted.use_bucketed(table)
        assert compacted.answer_token() is None
        view = compacted.view()
        assert view.get_entity("pay-1") == view.get_entity("pay-1") is not None
        assert len(compacted.answers) == 0 and compacted.answers.hits == 0
    finally:
        compacted.use_bucketed(enabled=False)
        compacted.spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_answer_cache_skips_read_overlapping_a_write(compacted, monkeypatch):
    import ftm_columnstore_spark.operators.assembly as assembly

    real = assembly.get_entity

    def racing(statements, entity_id):
        out = real(statements, entity_id)
        compacted.bump_epoch()  # a write lands while the read computes
        return out

    monkeypatch.setattr(assembly, "get_entity", racing)
    assert compacted.view().get_entity("org-acme")["caption"] == "Acme Holding AG"
    assert len(compacted.answers) == 0


def test_value_index_rebuild_invalidates_get_inverted(compacted, spark):
    compacted.build_value_index()
    pay = _entities(
        spark,
        ("pay-9", "Payment", {"amountEur": ["5"], "beneficiary": ["org-acme"]}),
    )
    compacted.write_entities(pay, last_seen=LATER)
    compacted.optimize()
    view = compacted.view()
    # the index predates pay-9 (a derived artifact, rebuilt on demand)
    stale = sorted(view.get_inverted("org-acme"))
    assert ("paymentsReceived", "pay-9") not in stale
    assert sorted(view.get_inverted("org-acme")) == stale
    compacted.build_value_index()
    assert sorted(view.get_inverted("org-acme")) == sorted(
        [*stale, ("paymentsReceived", "pay-9")]
    )


def test_unhashable_and_unlimited_queries_run_uncached(compacted):
    view = compacted.view()
    got = view.entities(Q().where(schema__in=["Payment", "Address"])[:10])
    assert sorted(e["id"] for e in got) == ["addr-1", "pay-1", "pay-2", "pay-3"]
    assert len(list(view.entities())) == 10
    assert sorted(e["id"] for e in view.entities(Q().where(schema="Payment"))) == [
        "pay-1", "pay-2", "pay-3"
    ]
    assert len(compacted.answers) == 0
