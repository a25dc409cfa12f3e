"""Distributed BPE (operators/bpe.py): merge learning, greedy
application semantics, and the brace-encoding safety properties the
string-replace formulation depends on."""

from __future__ import annotations

import pytest

from ftm_columnstore_spark.operators import bpe
from ftm_columnstore_spark.operators.bpe import (
    apply_bpe,
    bpe_token_counts,
    learn_bpe,
)


@pytest.fixture(scope="module")
def tiny(spark):
    # 'aaab' x3, 'ab' x2: pair counts round 0: (a,a)=6, (a,b)=5 -> merge aa
    return spark.createDataFrame(
        [(1, "aaab aaab aaab ab ab")], ["doc_id", "text"]
    )


def test_learn_order_and_counts(tiny):
    m = learn_bpe(tiny, n_merges=2).collect()
    # round 0: (a,a) = 2 per 'aaab' x3 = 6 beats (a,b) = 3+2 = 5
    # round 1: vocab is {aa}{a}{b} x3 / {a}{b} x2 -> (a,b) = 5 beats
    #          (aa,a) = 3
    assert [
        (r["rank"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in m
    ] == [(0, "a", "a", 6), (1, "a", "b", 5)]


def test_greedy_left_to_right(spark):
    # merge (a,a) applied to 'aaa' must yield [aa, a] — not [a, aa]
    df = spark.createDataFrame([(1, "aaa")], ["doc_id", "text"])
    toks = [
        r["token"]
        for r in apply_bpe(df, [("a", "a")]).orderBy("token").collect()
    ]
    assert sorted(toks) == ["a", "aa"]
    counts = {
        r["token"]: r["cnt"]
        for r in bpe_token_counts(df, [("a", "a")]).collect()
    }
    assert counts == {"aa": 1, "a": 1}


def test_symbol_alignment_safety(spark):
    # after merging (x,a), the word 'xab' holds symbols {xa}{b}; a later
    # merge (a,b) must NOT fire across the xa/b boundary
    df = spark.createDataFrame([(1, "xab ab")], ["doc_id", "text"])
    counts = {
        r["token"]: r["cnt"]
        for r in bpe_token_counts(df, [("x", "a"), ("a", "b")]).collect()
    }
    assert counts == {"xa": 1, "b": 1, "ab": 1}


def test_apply_reassembles_words(spark, tiny):
    m = learn_bpe(tiny, n_merges=3)
    toks = apply_bpe(tiny, m)
    import pyspark.sql.functions as F

    joined = (
        toks.groupBy("id")
        .agg(F.concat_ws("", F.collect_list("token")).alias("w"))
        .collect()
    )
    # concatenating a word's subwords must reproduce its characters
    # (order within collect_list is nondeterministic only across WORDS;
    # here each doc id maps to word occurrences, so compare multisets)
    chars = sorted("".join(r["w"] for r in joined))
    assert chars == sorted("aaabaaabaaababab")


def test_merge_exhaustion_stops_early(spark):
    df = spark.createDataFrame([(1, "ab ab")], ["doc_id", "text"])
    m = learn_bpe(df, n_merges=10).collect()
    # one merge fully collapses the vocabulary -> early stop
    assert len(m) == 1
    assert (m[0]["left_sym"], m[0]["right_sym"]) == ("a", "b")


def test_tie_break_deterministic(spark):
    # (a,b) and (c,d) both occur once; tie broken by (l, r) ascending
    df = spark.createDataFrame([(1, "ab cd")], ["doc_id", "text"])
    m = learn_bpe(df, n_merges=1).collect()
    assert (m[0]["left_sym"], m[0]["right_sym"]) == ("a", "b")


def test_token_counts_weighted_by_word_frequency(spark):
    df = spark.createDataFrame([(1, "ab ab ab cd")], ["doc_id", "text"])
    counts = {
        r["token"]: r["cnt"]
        for r in bpe_token_counts(df, [("a", "b")]).collect()
    }
    assert counts == {"ab": 3, "c": 1, "d": 1}


# --- property parity vs a pure-Python reference BPE ---------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _ref_bpe(words: list[str], n_merges: int):
    """Reference BPE (Sennrich+'16 alg. 1): dict-of-counts, greedy
    left-to-right merge application, (count DESC, l, r) argmax."""
    from collections import Counter

    vocab = Counter(tuple(w) for w in words)
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for syms, cnt in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += cnt
        if not pairs:
            break
        (l, r), c = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((l, r, c))
        new_vocab = Counter()
        for syms, cnt in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] += cnt
        vocab = new_vocab
    tokens = Counter()
    for syms, cnt in vocab.items():
        for s in syms:
            tokens[s] += cnt
    return merges, dict(tokens)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    words=st.lists(
        st.text(alphabet="abc", min_size=1, max_size=6),
        min_size=1,
        max_size=30,
    ),
    n_merges=st.integers(1, 5),
)
def test_bpe_matches_reference(spark, monkeypatch, words, n_merges):
    """Engine merges AND post-merge token counts equal the classic
    in-memory BPE on arbitrary corpora — pins both the argmax
    tie-break and the greedy left-to-right application the
    string-replace encoding claims to implement."""
    ref_merges, ref_tokens = _ref_bpe(words, n_merges)
    df = spark.createDataFrame([(1, " ".join(words))], ["doc_id", "text"])
    # SMALL_VOCAB_WORDS=0 forces the DISTRIBUTED rounds — the default
    # fast path IS the reference algorithm, so testing it here would be
    # circular; test_fast_path_matches_distributed covers path equivalence
    monkeypatch.setattr(bpe, "SMALL_VOCAB_WORDS", 0)
    m = learn_bpe(df, n_merges=n_merges)
    got_merges = [
        (r["left_sym"], r["right_sym"], r["pair_count"])
        for r in m.orderBy("rank").collect()
    ]
    assert got_merges == ref_merges
    got_tokens = {
        r["token"]: r["cnt"] for r in bpe_token_counts(df, m).collect()
    }
    assert got_tokens == ref_tokens


def test_fast_path_matches_distributed(spark, monkeypatch):
    """The small-vocab driver fast path and the distributed rounds
    produce identical merge tables (including early stop)."""
    texts = [
        (1, "lower lowest newer newest wide wider widest low new"),
        (2, "lower lower newer low low low wide"),
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    fast = learn_bpe(df, n_merges=10).collect()
    monkeypatch.setattr(bpe, "SMALL_VOCAB_WORDS", 0)
    dist = learn_bpe(df, n_merges=10).collect()
    assert [tuple(r) for r in fast] == [tuple(r) for r in dist]
    assert len(fast) == 10


def test_bpe_tokens_col_matches_apply(spark, tiny):
    """The expression tokenizer equals the relational apply_bpe on the
    same corpus (per-doc token multisets)."""
    import pyspark.sql.functions as F

    from ftm_columnstore_spark.operators.bpe import bpe_tokens_col

    m = learn_bpe(tiny, n_merges=3)
    mlist = [
        (r["left_sym"], r["right_sym"]) for r in m.orderBy("rank").collect()
    ]
    via_expr = sorted(
        r["t"]
        for r in tiny.select(
            F.explode(bpe_tokens_col("text", mlist)).alias("t")
        ).collect()
    )
    via_apply = sorted(r["token"] for r in apply_bpe(tiny, m).collect())
    assert via_expr == via_apply
    with pytest.raises(TypeError):
        bpe_tokens_col("text", m)


def test_bpe_tokens_col_streams(spark, tmp_path):
    """Stateless expression tokenization composes with Structured
    Streaming: windowless token counts over a file stream equal the
    batch counts."""
    import json as _json

    import pyspark.sql.functions as F

    from ftm_columnstore_spark.operators.bpe import bpe_tokens_col

    src = tmp_path / "bpe_stream"
    src.mkdir()
    rows = [
        {"doc_id": 1, "text": "lower lowest newer"},
        {"doc_id": 2, "text": "low new lower"},
    ]
    with open(src / "part-0.json", "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")
    batch_df = spark.read.schema("doc_id long, text string").json(str(src))
    mlist = [("l", "o"), ("lo", "w"), ("n", "e")]
    expected = {
        r["token"]: r["n"]
        for r in batch_df.select(
            F.explode(bpe_tokens_col("text", mlist)).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    stream = spark.readStream.schema("doc_id long, text string").json(
        str(src)
    )
    counts = (
        stream.select(F.explode(bpe_tokens_col("text", mlist)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        counts.writeStream.format("memory")
        .queryName("bpe_stream_counts")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["token"]: r["n"]
            for r in spark.sql("select * from bpe_stream_counts").collect()
        }
    finally:
        q.stop()
    assert got == expected and got["low"] >= 2


def test_vocab_cap_equals_full_when_vocab_fits(spark, monkeypatch):
    """When the true vocabulary fits the cap, the capped training is
    exactly the uncapped one — on BOTH the driver fast path and the
    distributed rounds (the cap cuts the relation before either)."""
    texts = [
        (1, "lower lowest newer newest wide wider widest low new"),
        (2, "lower lower newer low low low wide"),
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    full = learn_bpe(df, n_merges=8).collect()
    capped = learn_bpe(df, n_merges=8, vocab_cap=100).collect()
    assert [tuple(r) for r in capped] == [tuple(r) for r in full]
    monkeypatch.setattr(bpe, "SMALL_VOCAB_WORDS", 0)
    capped_dist = learn_bpe(df, n_merges=8, vocab_cap=100).collect()
    assert [tuple(r) for r in capped_dist] == [tuple(r) for r in full]


def test_vocab_cap_trains_on_top_words_only(spark):
    """A cap below the vocabulary size trains on the top-cap words by
    (count DESC, word ASC): the rare word's pairs vanish from the
    merge table."""
    # 'zq' appears once; 'ab' dominates. cap=1 keeps only 'ab'.
    df = spark.createDataFrame(
        [(1, "ab ab ab ab zq")], ["doc_id", "text"]
    )
    m = learn_bpe(df, n_merges=3, vocab_cap=1).collect()
    assert [(r["left_sym"], r["right_sym"], r["pair_count"]) for r in m] == [
        ("a", "b", 4)
    ]
    with pytest.raises(ValueError, match="vocab_cap"):
        learn_bpe(df, vocab_cap=0)


def test_bpe_fertility_golden(spark):
    """Hand-checked fertility on a known corpus: 'aaab' x3 + 'ab' x2,
    2 merges learned ((a,a) then (a,b)) — 'aaab' -> [aa, ab] (2 toks),
    'ab' -> [ab] (1 tok). n_words=5, n_tokens=3*2+2*1=8, n_chars=
    3*4+2*2=16."""
    from ftm_columnstore_spark.operators.bpe import bpe_fertility

    df = spark.createDataFrame(
        [(1, "aaab aaab aaab ab ab")], ["doc_id", "text"]
    )
    m = learn_bpe(df, n_merges=2)
    row = bpe_fertility(df, m).collect()[0]
    assert (row["n_words"], row["n_tokens"], row["n_chars"]) == (5, 8, 16)
    assert row["fertility"] == round(8 / 5, 6)
    assert row["chars_per_token"] == round(16 / 8, 6)


def test_bpe_fertility_no_merges_is_chars(spark):
    """With an empty merge list every char is a token: fertility =
    chars/words, chars_per_token = 1."""
    from ftm_columnstore_spark.operators.bpe import bpe_fertility

    df = spark.createDataFrame([(1, "abc de")], ["doc_id", "text"])
    row = bpe_fertility(df, []).collect()[0]
    assert (row["n_words"], row["n_tokens"], row["n_chars"]) == (2, 5, 5)
    assert row["chars_per_token"] == 1.0


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    words=st.lists(
        st.text(alphabet="abc", min_size=1, max_size=6),
        min_size=1,
        max_size=15,
    ),
    n_merges=st.integers(min_value=0, max_value=6),
)
def test_bpe_fertility_matches_python(spark, words, n_merges):
    """Property parity: fertility report equals a pure-Python replay
    (reference BPE apply over the same learned merges) on arbitrary
    corpora."""
    from ftm_columnstore_spark.operators.bpe import bpe_fertility

    df = spark.createDataFrame([(1, " ".join(words))], ["doc_id", "text"])
    merges_df = learn_bpe(df, n_merges=n_merges)
    mlist = [
        (r["left_sym"], r["right_sym"])
        for r in merges_df.orderBy("rank").collect()
    ]

    def apply_merges(w: str) -> list[str]:
        syms = list(w)
        for l, r in mlist:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    n_words = len(words)
    n_tokens = sum(len(apply_merges(w)) for w in words)
    n_chars = sum(len(w) for w in words)
    row = bpe_fertility(df, mlist).collect()[0]
    assert (row["n_words"], row["n_tokens"], row["n_chars"]) == (
        n_words,
        n_tokens,
        n_chars,
    )
