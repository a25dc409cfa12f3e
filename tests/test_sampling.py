"""Sampling/splitting family: hash split, stratified sample,
deterministic shuffle, n-gram decontamination."""

import hashlib

import pytest
from pyspark.sql import functions as F

from ftm_columnstore_spark.operators.sampling import (
    deterministic_shuffle,
    hash_key_col,
    ngram_overlap,
    pack_sequences,
    sample_mixture,
    split_by_hash,
    stratified_sample_exact,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, f"document number {i} with some shared filler text", ["en", "de", "fr"][i % 3])
        for i in range(300)
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"])


def test_hash_key_matches_python_md5(spark):
    df = spark.createDataFrame([(42,), (7,)], ["doc_id"])
    got = {
        r.doc_id: r.k
        for r in df.select("doc_id", hash_key_col("doc_id", "s1").alias("k")).collect()
    }
    for i in (42, 7):
        assert got[i] == hashlib.md5(f"s1{i}".encode()).hexdigest()[:8]


def test_split_by_hash_deterministic_and_complete(docs):
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = split_by_hash(docs, w, seed="seed").select("doc_id", "split")
    b = split_by_hash(docs, w, seed="seed").select("doc_id", "split")
    assert a.exceptAll(b).count() == 0  # rerun-stable
    counts = {r.split: r.n for r in a.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 300  # total partition of the corpus
    assert counts["train"] > counts["val"]  # weights roughly respected
    # different seed → different assignment (at least one doc moves)
    c = split_by_hash(docs, w, seed="other").select("doc_id", "split")
    assert a.exceptAll(c).count() > 0


def test_split_weights_approximate(docs):
    w = {"train": 0.5, "test": 0.5}
    counts = {
        r.split: r.n
        for r in split_by_hash(docs, w).groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert abs(counts["train"] - 150) < 45  # 3σ ≈ 26 at n=300, p=.5


def test_stratified_sample_exact_k_per_stratum(docs):
    out = stratified_sample_exact(docs, ["lang"], k=7)
    sizes = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert sizes == {"en": 7, "de": 7, "fr": 7}
    # deterministic: same rows every run
    again = stratified_sample_exact(docs, ["lang"], k=7)
    assert out.select("doc_id").exceptAll(again.select("doc_id")).count() == 0


def test_stratified_sample_small_stratum(spark):
    df = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], ["doc_id", "s"])
    out = stratified_sample_exact(df, ["s"], k=5)
    assert out.count() == 3  # min(k, |stratum|)


def test_deterministic_shuffle_total_order(docs):
    out = deterministic_shuffle(docs, num_partitions=4)
    ids1 = [r.doc_id for r in out.collect()]
    ids2 = [r.doc_id for r in deterministic_shuffle(docs, num_partitions=4).collect()]
    assert ids1 == ids2  # same global sequence every run
    assert sorted(ids1) == list(range(300))  # a permutation, nothing lost
    assert ids1 != sorted(ids1)  # actually shuffled
    # cluster-size independence: different partition count, same sequence
    ids3 = [r.doc_id for r in deterministic_shuffle(docs, num_partitions=11).collect()]
    assert ids1 == ids3
    # keys strictly ordered across partition boundaries
    keys = [r["__shuffle_key"] for r in out.select("__shuffle_key").collect()]
    assert keys == sorted(keys)


def test_sample_mixture_rates_and_determinism(docs):
    # lang stands in for a source column: en/de/fr each ~100 docs
    out = sample_mixture(
        docs, {"en": 0.0, "de": 1.0}, stratum_col="lang", seed="m", default_rate=0.5
    )
    counts = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert "en" not in counts  # rate 0 drops the stratum entirely
    assert counts["de"] == 100  # rate 1 keeps everything
    assert 20 < counts.get("fr", 0) < 80  # default 0.5 is approximate
    again = sample_mixture(
        docs, {"en": 0.0, "de": 1.0}, stratum_col="lang", seed="m", default_rate=0.5
    )
    assert out.select("doc_id").exceptAll(again.select("doc_id")).count() == 0
    # independent of the split decision: same seed would correlate
    assert sample_mixture(docs, {"en": 0.5}, stratum_col="lang", seed="other") \
        .select("doc_id").exceptAll(
            sample_mixture(docs, {"en": 0.5}, stratum_col="lang", seed="m").select("doc_id")
        ).count() > 0


@pytest.fixture(scope="module")
def sized_docs(spark):
    # sizes 1..600: some docs exceed a 512 budget → singleton bins
    rows = [(i, (i * 37) % 600 + 1) for i in range(400)]
    return spark.createDataFrame(rows, ["doc_id", "n_tokens"])


def test_pack_sequences_budget_respected(sized_docs):
    out = pack_sequences(sized_docs, budget=512, num_partitions=4)
    pdf = out.toPandas()
    # every doc packed exactly once
    assert sorted(pdf.doc_id) == list(range(400))
    # per-sequence sums ≤ budget, counting each doc at min(size, budget)
    pdf["clamped"] = pdf.n_tokens.clip(upper=512)
    sums = pdf.groupby("seq_id").clamped.sum()
    assert (sums <= 512).all()
    # oversized docs (size > budget) are alone in their sequence
    over = pdf[pdf.n_tokens > 512]
    per_seq = pdf.groupby("seq_id").size()
    assert (per_seq[over.seq_id] == 1).all()


def test_pack_sequences_deterministic_and_tight(sized_docs):
    a = pack_sequences(sized_docs, budget=512, num_partitions=4).toPandas()
    b = pack_sequences(sized_docs, budget=512, num_partitions=4).toPandas()
    assert (
        a.sort_values("doc_id").seq_id.tolist()
        == b.sort_values("doc_id").seq_id.tolist()
    )
    # packing efficiency: within 30% of the LP lower bound
    total = a.n_tokens.clip(upper=512).sum()
    lower_bound = -(-int(total) // 512)
    assert a.seq_id.nunique() <= int(lower_bound * 1.3) + 4  # +4: per-partition remainders


def test_ngram_overlap_decontamination(spark):
    bench = spark.createDataFrame(
        [(900, "the quick brown fox jumps over the lazy dog tonight")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            # benchmark sentence pasted inside a longer page → contaminated
            (1, "intro filler words here the quick brown fox jumps over the lazy dog tonight and then much more trailing content follows"),
            (2, "completely unrelated text about spark partitions and shuffles"),
        ],
        ["doc_id", "text"],
    )
    hits = ngram_overlap(corpus, bench, n=8).collect()
    assert {(r.corpus_id, r.benchmark_id) for r in hits} == {(1, 900)}
    assert hits[0].n_shared_ngrams >= 1


def test_ngram_overlap_min_hits_filter(spark):
    bench = spark.createDataFrame(
        [(900, "one two three four five six seven eight nine")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        # shares exactly the first 8-gram only (word nine differs)
        [(1, "one two three four five six seven eight XXXX")],
        ["doc_id", "text"],
    )
    assert ngram_overlap(corpus, bench, n=8, min_hits=1).count() == 1
    assert ngram_overlap(corpus, bench, n=8, min_hits=3).count() == 0


def test_hex_thresholds_partition_keyspace():
    """Property: for any weights, the CASE thresholds partition the hex
    keyspace — monotone, gapless, and ending at the keyspace top."""
    from hypothesis import given, strategies as st

    from ftm_columnstore_spark.operators.sampling import _hex_threshold

    @given(
        st.lists(
            st.floats(min_value=0.01, max_value=1.0, allow_nan=False),
            min_size=1,
            max_size=8,
        )
    )
    def check(ws):
        total = sum(ws)
        acc = 0.0
        prev = "00000000"
        for w in ws:
            acc += w / total
            t = _hex_threshold(acc)
            assert len(t) == 8 and t >= prev  # monotone, fixed width
            prev = t
        assert _hex_threshold(1.0) == "ffffffff"  # top of keyspace

    check()


def test_weighted_sample_deterministic_and_clamped(spark):
    import hashlib

    from pyspark.sql import functions as F

    from ftm_columnstore_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(i, i / 50.0) for i in range(100)], "doc_id long, w double"
    )
    kept1 = sorted(r.doc_id for r in weighted_sample(df, "w", seed="s").collect())
    kept2 = sorted(r.doc_id for r in weighted_sample(df, "w", seed="s").collect())
    assert kept1 == kept2  # reproducible
    # weight >= 1 → always kept; weight <= 0 → never
    assert all(i in kept1 for i in range(50, 100))
    assert 0 not in kept1
    # the decision matches the documented md5 contract exactly
    def expect(i, w):
        u = int(hashlib.md5(f"s{i}".encode()).hexdigest()[:8], 16)
        return u < min(max(w, 0.0), 1.0) * 2**32
    assert kept1 == [i for i in range(100) if expect(i, i / 50.0)]
    # a different seed flips some marginal decisions
    kept3 = sorted(r.doc_id for r in weighted_sample(df, "w", seed="t").collect())
    assert kept3 != kept1


def test_write_training_shards(spark, tmp_path):
    import hashlib

    from ftm_columnstore_spark.operators.sampling import (
        write_training_shards,
    )

    df = spark.createDataFrame(
        [(i, f"doc number {i} words here") for i in range(200)],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "shards")
    manifest = write_training_shards(df, path, n_shards=4, seed="s").collect()
    assert [r["shard"] for r in manifest] == [0, 1, 2, 3]
    assert sum(r["n_rows"] for r in manifest) == 200
    assert all(r["n_tokens"] == r["n_rows"] * 5 for r in manifest)
    # hash balance: no shard wildly off 50
    assert all(25 <= r["n_rows"] <= 75 for r in manifest)

    # shard membership follows the public md5 contract, row-for-row
    back = spark.read.parquet(path).select("doc_id", "shard").collect()
    for r in back:
        key = int(hashlib.md5(f"s{r['doc_id']}".encode()).hexdigest()[:8], 16)
        assert r["shard"] == key % 4

    # every doc lands in exactly one shard
    assert len({r["doc_id"] for r in back}) == 200 and len(back) == 200

    import pytest as _pytest

    with _pytest.raises(ValueError):
        write_training_shards(df, path, n_shards=0)


def test_pack_sequences_portable(spark):
    import pytest as _pytest

    from ftm_columnstore_spark.operators.sampling import (
        pack_sequences_portable,
    )

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate([90, 80, 50, 40, 30, 300])],
        ["doc_id", "n_tokens"],
    )
    out = pack_sequences_portable(df, budget=100, n_buckets=1).collect()
    rows = {r["id"]: r for r in out}
    # next-fit-decreasing order: 300, 90, 80, 50, 40, 30
    # 300 alone (oversized) -> bin 0; 90 -> bin 1; 80 -> bin 2;
    # 50+40 -> bin 3 (90<=100); 30 doesn't fit (90+30>100)? fits: 90+30=120>100
    assert rows[5]["bin_no"] == 0 and rows[5]["bin_fill"] == 300
    assert rows[0]["bin_no"] == 1
    assert rows[1]["bin_no"] == 2
    assert rows[2]["bin_no"] == 3 and rows[3]["bin_no"] == 3
    assert rows[3]["bin_fill"] == 90
    assert rows[4]["bin_no"] == 4  # 30 opens a new bin
    # every bin respects the budget unless it holds one oversized item
    by_bin = {}
    for r in out:
        by_bin.setdefault(r["bin_no"], []).append(r["size"])
    for sizes in by_bin.values():
        assert sum(sizes) <= 100 or len(sizes) == 1

    with _pytest.raises(ValueError):
        pack_sequences_portable(df, budget=0)


# --- sample-based quantiles --------------------------------------------------


def _sq_py(rows, probs, rate, seed=""):
    import hashlib
    import math as _math

    keyed = [
        (v, hashlib.md5(f"{seed}{i}".encode()).hexdigest()[:8])
        for i, v in rows
    ]
    thr = format(min(int(rate * 2**32), 2**32 - 1), "08x")
    samp = sorted(
        (v, k) for v, k in keyed if rate >= 1.0 or k < thr
    )
    n = len(samp)
    out = []
    for p in sorted(probs):
        r = max(1, _math.ceil(p * n))
        out.append((p, samp[r - 1][0]))
    return out


def test_sample_quantiles_match_python_replay(spark):
    from ftm_columnstore_spark.operators.sampling import sample_quantiles

    rows = [(i, (i * 37) % 1000) for i in range(500)]
    df = spark.createDataFrame(rows, ["doc_id", "v"])
    probs = [0.25, 0.5, 0.9, 0.99]
    got = [
        (r["prob"], r["value"])
        for r in sample_quantiles(df, "v", probs, rate=0.5).collect()
    ]
    assert got == _sq_py(rows, probs, rate=0.5)


def test_sample_quantiles_rate1_is_exact_type1(spark):
    from ftm_columnstore_spark.operators.sampling import sample_quantiles

    rows = [(i, v) for i, v in enumerate([5, 1, 9, 3, 7, 2, 8, 4, 6, 10])]
    df = spark.createDataFrame(rows, ["doc_id", "v"])
    got = {
        r["prob"]: r["value"]
        for r in sample_quantiles(df, "v", [0.5, 1.0], rate=1.0).collect()
    }
    # type-1: p=0.5 over n=10 → rank 5 → value 5; p=1.0 → rank 10 → 10
    assert got == {0.5: 5, 1.0: 10}


def test_sample_quantiles_exact_mode_is_bounded(spark):
    """rate=1.0 funnels the whole column through one reducer, so it
    REFUSES inputs beyond max_sample_rows (with the rate to pass
    instead) rather than silently running a global single-partition
    sort — and still works when the input fits the bound."""
    from ftm_columnstore_spark.operators.sampling import sample_quantiles

    df = spark.createDataFrame([(i, i) for i in range(100)], ["doc_id", "v"])
    with pytest.raises(ValueError, match="one reducer"):
        sample_quantiles(df, "v", [0.5], rate=1.0, max_sample_rows=50)
    got = {
        r["prob"]: r["value"]
        for r in sample_quantiles(
            df, "v", [0.5], rate=1.0, max_sample_rows=100
        ).collect()
    }
    assert got == {0.5: 49}


def test_sample_quantiles_accuracy(spark):
    """A 25% sample's median of uniform data lands near the true one."""
    from ftm_columnstore_spark.operators.sampling import sample_quantiles

    rows = [(i, i) for i in range(10_000)]
    df = spark.createDataFrame(rows, ["doc_id", "v"])
    got = {
        r["prob"]: r["value"]
        for r in sample_quantiles(df, "v", [0.5], rate=0.25).collect()
    }
    assert abs(got[0.5] - 5000) < 500


def test_sample_quantiles_validation(spark):
    from ftm_columnstore_spark.operators.sampling import sample_quantiles

    df = spark.createDataFrame([(1, 1)], ["doc_id", "v"])
    with pytest.raises(ValueError, match="probs"):
        sample_quantiles(df, "v", [])
    with pytest.raises(ValueError, match="probs"):
        sample_quantiles(df, "v", [1.5])
    with pytest.raises(ValueError, match="rate"):
        sample_quantiles(df, "v", [0.5], rate=0.0)


# --- budgeted prefix (distributed prefix sum) --------------------------------


def _budget_py(rows, budget, seed=""):
    import hashlib

    keyed = sorted(
        (hashlib.md5(f"{seed}{i}".encode()).hexdigest()[:8], i, c)
        for i, c in rows
    )
    kept, acc = [], 0
    for _, i, c in keyed:
        acc += c
        if acc <= budget:
            kept.append(i)
        else:
            break
    return set(kept)


def test_take_budget_matches_python_replay(spark):
    from ftm_columnstore_spark.operators.sampling import take_budget

    rows = [(i, 10 + (i * 7) % 90) for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "cost"])
    for budget in (0, 500, 5000, 10**9):
        got = {
            r["doc_id"]
            for r in take_budget(df, "cost", budget).collect()
        }
        assert got == _budget_py(rows, budget), budget


def test_take_budget_total_never_exceeds(spark):
    from ftm_columnstore_spark.operators.sampling import take_budget

    rows = [(i, 33) for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "cost"])
    out = take_budget(df, "cost", 1000)
    total = out.agg(F.sum("cost").alias("s")).collect()[0]["s"]
    assert total <= 1000
    # 30 docs of 33 = 990 <= 1000 < 1023
    assert out.count() == 30


def test_take_budget_no_single_partition_window(spark):
    """The scale contract: the cumsum window partitions by bucket —
    the plan must NOT contain a global (empty-partition-spec) Window,
    whose single-reducer sort is exactly what this operator avoids."""
    from ftm_columnstore_spark.operators.sampling import take_budget

    rows = [(i, 5) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "cost"])
    plan = (
        take_budget(df, "cost", 100)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_take_budget_validation(spark):
    from ftm_columnstore_spark.operators.sampling import take_budget

    df = spark.createDataFrame([(1, 1)], ["doc_id", "cost"])
    with pytest.raises(ValueError, match="budget"):
        take_budget(df, "cost", -1)
    with pytest.raises(ValueError, match="n_buckets"):
        take_budget(df, "cost", 10, n_buckets=0)


def test_split_by_cluster_keeps_near_dups_together(spark):
    from ftm_columnstore_spark.operators.sampling import split_by_cluster

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(200)], ["doc_id", "text"]
    )
    # clusters: pairs (2i, 2i+1) share a cluster; 150+ unlabeled
    clusters = spark.createDataFrame(
        [(i, (i // 2) * 2) for i in range(150)], ["doc_id", "cluster_id"]
    )
    out = split_by_cluster(
        docs, clusters, {"train": 0.5, "val": 0.25, "test": 0.25}
    )
    rows = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(rows) == 200 and set(rows.values()) <= {"train", "val", "test"}
    # every labeled pair stays in one split
    for i in range(0, 150 - 1, 2):
        assert rows[i] == rows[i + 1], i
    # unlabeled docs split by their own id — matches split_by_hash
    from ftm_columnstore_spark.operators.sampling import split_by_hash

    solo = {
        r["doc_id"]: r["split"]
        for r in split_by_hash(
            docs.filter(F.col("doc_id") >= 150).withColumn(
                "__split_key", F.col("doc_id").cast("string")
            ),
            {"train": 0.5, "val": 0.25, "test": 0.25},
            id_col="__split_key",
        ).collect()
    }
    for i in range(150, 200):
        assert rows[i] == solo[i]


def test_split_by_cluster_auto_clusters(spark):
    """clusters=None computes minhash_clusters(df) internally — exact
    duplicate texts must land in one split."""
    from ftm_columnstore_spark.operators.sampling import split_by_cluster

    dup_text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, dup_text) for i in range(6)]
    rows += [(100 + i, f"unique document body number {i} " * 3) for i in range(30)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = split_by_cluster(docs, None, {"train": 0.5, "test": 0.5})
    got = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(got) == 36
    assert len({got[i] for i in range(6)}) == 1


def test_split_by_cluster_auto_clusters_releases_persists(spark):
    """clusters=None persists minhash_clusters' relations; they must be
    released through the returned frame. Persisted-RDD ids are compared
    as sets: Spark holds them weakly, so an older test's leftovers may
    vanish mid-test and a bare count would drift."""
    from ftm_columnstore_spark.operators.dedup import unpersist_intermediates
    from ftm_columnstore_spark.operators.sampling import split_by_cluster

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    text = "split by cluster persist leak probe, a near-duplicate body"
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, "an unrelated split leak probe document")],
        ["doc_id", "text"],
    )
    before = persisted()
    out = split_by_cluster(docs, None, {"train": 0.5, "test": 0.5})
    assert len(out.collect()) == 3
    assert persisted() - before
    unpersist_intermediates(out, blocking=True)
    assert not persisted() - before


def test_mixture_by_temperature_alpha_smooths(spark):
    """alpha=0.5 keeps a HIGHER fraction of the small source than of the
    big one (temperature smoothing), and the result is deterministic."""
    from ftm_columnstore_spark.operators.sampling import (
        mixture_by_temperature,
    )

    rows = [(i, "big") for i in range(1600)] + [
        (10_000 + i, "small") for i in range(100)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "source"])
    kept = mixture_by_temperature(
        docs, alpha=0.5, total=400, id_col="doc_id", seed="s"
    )
    counts = {r["source"]: r["n"] for r in kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    # shares: sqrt(1600)=40, sqrt(100)=10 -> big 320, small 80 of 400
    # small keep-rate 80/100 = 0.8 >> big 320/1600 = 0.2
    frac_small = counts["small"] / 100
    frac_big = counts["big"] / 1600
    assert frac_small > 3 * frac_big
    assert abs(counts["big"] - 320) < 60 and abs(counts["small"] - 80) < 25
    again = mixture_by_temperature(
        docs, alpha=0.5, total=400, id_col="doc_id", seed="s"
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_mixture_by_temperature_alpha_one_is_proportional(spark):
    """alpha=1 degenerates to a uniform global rate (natural shares)."""
    from ftm_columnstore_spark.operators.sampling import (
        mixture_by_temperature,
    )

    rows = [(i, "a") for i in range(900)] + [
        (10_000 + i, "b") for i in range(300)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "source"])
    kept = mixture_by_temperature(docs, alpha=1.0, total=600, seed="x")
    counts = {r["source"]: r["n"] for r in kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    # both sources sampled at rate 0.5
    assert abs(counts["a"] - 450) < 70
    assert abs(counts["b"] - 150) < 45


def test_mixture_by_temperature_rate_clamped(spark):
    """A tiny source whose target exceeds its size keeps everything
    (rate clamps at 1.0) — no oversampling, no error."""
    from ftm_columnstore_spark.operators.sampling import (
        mixture_by_temperature,
    )

    rows = [(i, "big") for i in range(2000)] + [(9_999, "tiny")]
    docs = spark.createDataFrame(rows, ["doc_id", "source"])
    kept = mixture_by_temperature(docs, alpha=0.5, total=1000, seed="c")
    assert kept.filter(F.col("source") == "tiny").count() == 1


def test_mixture_by_temperature_null_strata_excluded(spark):
    """NULL strata belong to no source: they must not crash the
    driver-side sort (None vs str TypeError pre-fix) and must be
    dropped from the output, while non-NULL strata sample exactly as
    they would without the NULL rows present."""
    from ftm_columnstore_spark.operators.sampling import (
        mixture_by_temperature,
    )

    base = [(i, "a") for i in range(400)] + [(1000 + i, "b") for i in range(100)]
    with_nulls = base + [(5000 + i, None) for i in range(50)]
    clean = spark.createDataFrame(base, ["doc_id", "source"])
    dirty = spark.createDataFrame(with_nulls, ["doc_id", "source"])
    want = sorted(
        r["doc_id"]
        for r in mixture_by_temperature(
            clean, alpha=0.5, total=250, seed="n"
        ).collect()
    )
    got_rows = mixture_by_temperature(
        dirty, alpha=0.5, total=250, seed="n"
    ).collect()
    assert all(r["source"] is not None for r in got_rows)
    assert sorted(r["doc_id"] for r in got_rows) == want


def test_mixture_by_temperature_all_null_strata_empty(spark):
    from ftm_columnstore_spark.operators.sampling import (
        mixture_by_temperature,
    )

    docs = spark.createDataFrame(
        [(i, None) for i in range(20)],
        "doc_id: long, source: string",
    )
    assert mixture_by_temperature(docs, alpha=0.5, seed="z").count() == 0


def test_mixture_by_temperature_max_strata_bound(spark):
    """The house bounded-collect rule: a high-cardinality stratum_col
    raises instead of collecting unbounded rows to the driver."""
    from ftm_columnstore_spark.operators.sampling import (
        mixture_by_temperature,
    )

    docs = spark.createDataFrame(
        [(i, f"s{i}") for i in range(30)], ["doc_id", "source"]
    )
    with pytest.raises(ValueError, match="max_strata"):
        mixture_by_temperature(docs, alpha=0.5, max_strata=10)
    # at exactly the bound it runs
    assert (
        mixture_by_temperature(docs, alpha=0.5, max_strata=30, total=30).count()
        > 0
    )


def test_top_fraction_by_stratum_exact_counts(spark):
    """Per stratum: kept = 1 + floor(frac*(n-1)) (percent_rank cut over
    a tie-free total order), highest scores first; NULL scores dropped;
    fraction guard raises."""
    from ftm_columnstore_spark.operators.sampling import (
        top_fraction_by_stratum,
    )

    rows = [(i, "a", i * 10) for i in range(10)] + [
        (100 + i, "b", i) for i in range(4)
    ] + [(999, "c", None)]
    df = spark.createDataFrame(rows, "doc_id: long, source: string, q: long")
    kept = top_fraction_by_stratum(
        df, 0.2, score_col="q", stratum_col="source"
    ).collect()
    by_s = {}
    for r in kept:
        by_s.setdefault(r["source"], []).append(r["doc_id"])
    # a: n=10 -> pr<=0.2 keeps ranks 1..(1+floor(0.2*9)) = 2 best scores
    assert sorted(by_s["a"]) == [8, 9]
    # b: n=4 -> keeps 1 (pr of 2nd is 1/3 > 0.2)
    assert by_s["b"] == [103]
    assert "c" not in by_s  # NULL score dropped
    import pytest

    with pytest.raises(ValueError, match="fraction"):
        top_fraction_by_stratum(df, 0.0, score_col="q")


def test_top_fraction_full_keeps_all_scored(spark):
    from ftm_columnstore_spark.operators.sampling import (
        top_fraction_by_stratum,
    )

    df = spark.createDataFrame(
        [(1, "a", 5), (2, "a", 3), (3, "b", 1)],
        "doc_id: long, source: string, q: long",
    )
    assert top_fraction_by_stratum(df, 1.0, score_col="q").count() == 3


def test_top_fraction_single_stratum_shuffle(spark):
    """Scale contract: ONE hashpartitioning exchange (the stratum-keyed
    window) — no global sort, no extra shuffles."""
    import re

    from ftm_columnstore_spark.operators.sampling import (
        top_fraction_by_stratum,
    )

    df = spark.createDataFrame(
        [(i, f"s{i % 3}", i * 7 % 11) for i in range(60)],
        "doc_id: long, source: string, q: long",
    )
    out = top_fraction_by_stratum(df, 0.3, score_col="q")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_weighted_reservoir_exact_k_and_determinism(spark):
    from ftm_columnstore_spark.operators.sampling import (
        weighted_reservoir_sample,
    )

    df = spark.createDataFrame(
        [(i, float(1 + i % 10)) for i in range(200)], "doc_id long, w double"
    )
    s1 = weighted_reservoir_sample(df, "w", k=25)
    s2 = weighted_reservoir_sample(df, "w", k=25)
    r1 = sorted(r["doc_id"] for r in s1.collect())
    r2 = sorted(r["doc_id"] for r in s2.collect())
    assert len(r1) == 25 and r1 == r2
    # different seed -> (almost surely) different sample
    s3 = weighted_reservoir_sample(df, "w", k=25, seed="other")
    assert sorted(r["doc_id"] for r in s3.collect()) != r1


def test_weighted_reservoir_matches_python_replay(spark):
    import hashlib
    import math

    from ftm_columnstore_spark.operators.sampling import (
        weighted_reservoir_sample,
    )

    rows = [(i, float(1 + (i * 7) % 5)) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = [
        r["doc_id"]
        for r in weighted_reservoir_sample(df, "w", k=10).collect()
    ]

    def key(i, w):
        h = hashlib.md5(str(i).encode()).hexdigest()[:8]
        u = (int(h, 16) + 0.5) / 2**32
        return round(math.log(u), 12) / w

    expect = [
        i for i, w in sorted(rows, key=lambda t: (-key(*t), t[0]))[:10]
    ]
    assert got == expect


def test_weighted_reservoir_weight_biases_inclusion(spark):
    from ftm_columnstore_spark.operators.sampling import (
        weighted_reservoir_sample,
    )

    # half the ids carry 100x weight -> they should dominate the sample
    df = spark.createDataFrame(
        [(i, 100.0 if i % 2 == 0 else 1.0) for i in range(1000)],
        "doc_id long, w double",
    )
    heavy = sum(
        1
        for r in weighted_reservoir_sample(df, "w", k=100).collect()
        if r["doc_id"] % 2 == 0
    )
    assert heavy >= 90


def test_weighted_reservoir_excludes_nonpositive_and_validates(spark):
    import pytest

    from ftm_columnstore_spark.operators.sampling import (
        weighted_reservoir_sample,
    )

    df = spark.createDataFrame(
        [(1, 1.0), (2, 0.0), (3, -5.0), (4, None)], "doc_id long, w double"
    )
    rows = weighted_reservoir_sample(df, "w", k=10).collect()
    assert [r["doc_id"] for r in rows] == [1]
    with pytest.raises(ValueError, match="k must"):
        weighted_reservoir_sample(df, "w", k=0)


def test_weighted_reservoir_by_stratum_exact_k_each(spark):
    from ftm_columnstore_spark.operators.sampling import (
        weighted_reservoir_by_stratum,
    )

    df = spark.createDataFrame(
        [(i, "s" + str(i % 3), float(1 + i % 7)) for i in range(120)],
        "doc_id long, src string, w double",
    )
    rows = weighted_reservoir_by_stratum(
        df, "w", k=10, stratum_col="src"
    ).collect()
    per = {}
    for r in rows:
        per.setdefault(r["src"], []).append(r["doc_id"])
    assert {s: len(v) for s, v in per.items()} == {
        "s0": 10, "s1": 10, "s2": 10,
    }
    # determinism + agreement with the global sampler restricted to one stratum
    from ftm_columnstore_spark.operators.sampling import (
        weighted_reservoir_sample,
    )
    solo = sorted(
        r["doc_id"]
        for r in weighted_reservoir_sample(
            df.where("src = 's1'"), "w", k=10
        ).collect()
    )
    assert sorted(per["s1"]) == solo


def test_weighted_reservoir_by_stratum_null_and_small(spark):
    from ftm_columnstore_spark.operators.sampling import (
        weighted_reservoir_by_stratum,
    )

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 0.0), (3, None, 1.0), (4, "b", 2.0)],
        "doc_id long, src string, w double",
    )
    rows = weighted_reservoir_by_stratum(
        df, "w", k=5, stratum_col="src"
    ).collect()
    # strata smaller than k keep everything eligible
    assert sorted((r["src"], r["doc_id"]) for r in rows) == [
        ("a", 1), ("b", 4),
    ]
