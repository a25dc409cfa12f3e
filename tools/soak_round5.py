"""Round-5 scale soak: (a) learn_bpe with vocab_cap at the 500k-doc
corpus (VERDICT r4 item 3 — the capped training must stay flat while
bounding every merge round's relation), (b) the one-scan weighted
cms_heavy_hitters (r5 rework) at 1x/10x/100x — growth should track
the single corpus scan, with sketch+probe work vocabulary-bounded.

Same salted replication as soak_round4.py. Run:
  PYTHONPATH=/root/repo python tools/soak_round5.py
"""

from __future__ import annotations

import json
import os
import sys
import time
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCALES = [1, 10, 100]


def expand(spark, factor: int):
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    n_base = base.count()
    if factor == 1:
        return base, n_base
    reps = spark.range(factor).select(F.col("id").alias("rep"))
    out = (
        base.crossJoin(reps)
        .select(
            (F.col("doc_id") + F.col("rep") * n_base).alias("doc_id"),
            F.when(F.col("rep") % 10 == 0, F.col("text"))
            .otherwise(
                F.concat(
                    F.col("text"), F.lit(" rep"), F.col("rep").cast("string")
                )
            )
            .alias("text"),
            "source",
        )
        .repartition(32)
        .persist()
    )
    return out, out.count()


def timed(label, fn):
    t0 = time.perf_counter()
    n = fn()
    dt = round(time.perf_counter() - t0, 2)
    print(json.dumps({"stage": label, "wall_s": dt, "rows_out": n}))
    return dt


def main():
    from ftm_columnstore_spark.functions.text import word_tokens_col
    from ftm_columnstore_spark.operators import bpe
    from ftm_columnstore_spark.operators.bpe import learn_bpe
    from ftm_columnstore_spark.operators.sketches import cms_heavy_hitters
    from ftm_columnstore_spark.session import get_spark

    spark = get_spark(
        "soak-r5",
        master="local[32]",
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    for factor in SCALES:
        docs, n = expand(spark, factor)
        print(json.dumps({"scale": factor, "docs": n}))
        # capped vs uncapped training (distributed rounds forced so the
        # cap's per-round bound is what's exercised, not the driver
        # fast path)
        with mock.patch.object(bpe, "SMALL_VOCAB_WORDS", 0):
            timed(
                f"learn_bpe(12, uncapped, dist) x{factor}",
                lambda: learn_bpe(docs, n_merges=12).count(),
            )
            timed(
                f"learn_bpe(12, cap=32k, dist) x{factor}",
                lambda: learn_bpe(
                    docs, n_merges=12, vocab_cap=32_768
                ).count(),
            )
        # one-scan weighted CMS heavy hitters over corpus tokens (a23
        # shape)
        toks = docs.where(F.col("text").isNotNull()).select(
            F.explode(word_tokens_col("text")).alias("token")
        )
        timed(
            f"cms_heavy_hitters x{factor}",
            lambda: cms_heavy_hitters(
                toks, "token", threshold=100 * factor, d=4, w=512
            ).count(),
        )
        # round-5 ops: bloom n-gram decontamination (bench fixed-size,
        # corpus grows — wall should track the single corpus gram
        # pass), fertility (distinct-word bounded), zipf (top-n
        # bounded), per-source quality prune (one window shuffle)
        from ftm_columnstore_spark.operators.bpe import bpe_fertility
        from ftm_columnstore_spark.operators.sampling import (
            top_fraction_by_stratum,
        )
        from ftm_columnstore_spark.operators.sketches import (
            bloom_ngram_decontaminate,
        )
        from ftm_columnstore_spark.operators.text import zipf_alpha

        bench = docs.where(F.col("doc_id") % 97 == 0)

        def _dec():
            out = bloom_ngram_decontaminate(
                docs.where(F.col("doc_id") % 97 != 0),
                bench,
                n=3,
                m_bits=1 << 13,
                k=2,
            )
            n = out.count()
            for c in getattr(out, "_cached_intermediates", []):
                c.unpersist()
            return n

        timed(f"bloom_decontaminate x{factor}", _dec)
        merges = learn_bpe(docs, n_merges=12)
        timed(
            f"bpe_fertility x{factor}",
            lambda: bpe_fertility(docs, merges).count(),
        )
        timed(
            f"zipf_alpha x{factor}",
            lambda: zipf_alpha(docs, top_n=500).count(),
        )
        timed(
            f"quality_prune x{factor}",
            lambda: top_fraction_by_stratum(
                docs.withColumn("q", F.length("text")),
                0.2,
                score_col="q",
                stratum_col="source",
            ).count(),
        )
        from ftm_columnstore_spark.operators.sketches import (
            kmv_jaccard,
            kmv_sketch,
        )

        def _kmv():
            toks = docs.where(F.col("text").isNotNull()).select(
                "doc_id", F.explode(word_tokens_col("text")).alias("token")
            )
            a = kmv_sketch(
                toks.where(F.col("doc_id") % 2 == 0), "token", k=512
            )
            b = kmv_sketch(
                toks.where(F.col("doc_id") % 2 == 1), "token", k=512
            )
            return kmv_jaccard(a, b, k=512).count()

        timed(f"kmv_vocab_overlap x{factor}", _kmv)
        if factor > 1:
            docs.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
