"""The benchmark's workloads. Each takes a ``Run`` (session, tracer,
checker, temp dir, sizes) and returns its metrics; ``run.py`` owns process
set-up and the result line.

Every call into the package goes through its public API, from outside."""

from __future__ import annotations

import json
import os
import random
import shutil
import threading
import time
from bisect import bisect_left
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from itertools import accumulate

from gen import BASE_SEEN, SPLITS, Corpus, make_documents
from harness import (
    Checker,
    Tracer,
    dir_bytes_files,
    median,
    percentile,
    tree_cpu_s,
)

#: inputs per scale: entities per dataset (etl, serve) and documents for
#: the etl workload's training-data pass
SIZES = {
    "full": {"etl": 300, "serve": 600, "docs": 400},
    "tiny": {"etl": 30, "serve": 40, "docs": 60},
}
WARMUP_SIZES = {"etl": 8, "docs": 20}


@dataclass
class Run:
    spark: object
    tracer: Tracer
    checker: Checker
    tmp: str
    seed: int
    seconds: float
    cores: int
    scale: str
    #: metrics printed by name before the result line (workload-specific
    #: end-to-end figures and per-layer counters)
    extra: dict = field(default_factory=dict)

    def size(self, workload: str) -> int:
        return SIZES[self.scale][workload]


def _write_rows(path: str, rows: list[dict]) -> str:
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    return path


def _approx(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-6 * max(1.0, abs(a))


# --- etl ----------------------------------------------------------------------

class _EtlInputs:
    def __init__(self, root: str, seed: int, n: int):
        os.makedirs(root, exist_ok=True)
        self.corpus = Corpus(seed, n)
        self.paths = self.corpus.write_datasets(root)
        self.ingested = self.corpus.live_statements()
        rows, self.upsert_seen = self.corpus.upsert_batch()
        self.ingested += sum(
            1 + sum(len(v) for v in r["properties"].values()) for r in rows
        )
        self.upsert_path = _write_rows(os.path.join(root, "upsert.ijson"), rows)


def _etl_cycle(run: Run, inp: _EtlInputs, store_dir: str) -> dict:
    """One batch refresh: load every dataset with fingerprints, apply the
    upsert batch, resolve and install the canonical map, compact."""
    from ftm_columnstore_spark import Store
    from ftm_columnstore_spark.operators.xref import resolve
    from ftm_columnstore_spark.sources import read_entities

    spark, tr = run.spark, run.tracer
    store = Store(spark, store_dir)
    t = {}
    cpu0 = tree_cpu_s()
    start = time.perf_counter()
    loads = [(p, ds, BASE_SEEN) for ds, p in inp.paths.items()]
    loads.append((inp.upsert_path, None, inp.upsert_seen))
    for path, ds, seen in loads:
        t0 = time.perf_counter()
        with tr.span("sources.read"):
            ents = read_entities(spark, path, dataset=ds)
            tr.force(ents)
        with tr.span("store.write"):
            store.write_entities(
                ents, dataset=ds or "default", last_seen=seen,
                with_fingerprints=True,
            )
        t.setdefault("write", []).append(time.perf_counter() - t0)
    if tr.enabled:
        t["files_written"] = dir_bytes_files(store.uri)[1]
        t["dedup_reads"] = 0 if store.is_compacted() else 1
    t0 = time.perf_counter()
    with tr.span("xref.resolve"):
        with tr.span("store.read_build"):
            stmts = store.statements()
        cmap = resolve(stmts).persist()
        n_canonical = cmap.count()
        store.set_resolver(cmap)
    t["resolve"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    with tr.span("store.optimize"):
        store.optimize()
    t["optimize"] = time.perf_counter() - t0
    t["wall"] = time.perf_counter() - start
    t["cpu"] = tree_cpu_s() - cpu0
    t["store"], t["cmap"], t["n_canonical"] = store, cmap, n_canonical
    return t


def _etl_check(run: Run, inp: _EtlInputs, store) -> None:
    from pyspark.sql import functions as F

    ck = run.checker
    try:
        ck.expect("etl.live_statements", inp.corpus.live_statements(),
                  store.statements().count())
        planted = [i for g in inp.corpus.exact_groups for i in g]
        rows = (
            store.statements()
            .filter(F.col("entity_id").isin(planted) & (F.col("prop") == "id"))
            .select("entity_id", "canonical_id")
            .collect()
        )
        canon: dict[str, set] = {}
        for r in rows:
            canon.setdefault(r["entity_id"], set()).add(r["canonical_id"])
        unchecked = 0
        for g in inp.corpus.exact_groups:
            # a member the upsert gave an alias no longer shares every
            # name with the group; the engine scores pairs on one name
            # per entity, so such groups are counted, not checked
            if len({inp.corpus.names(i) for i in g}) > 1:
                unchecked += 1
                continue
            got = set().union(*(canon.get(i, {None}) for i in g))
            ck.expect(f"etl.exact_group.{g[0]}", 1, len(got))
        run.extra["etl.groups_unchecked"] = (unchecked, "count")
    except Exception as exc:  # noqa: BLE001 - a failed check is a result
        ck.error("etl.check", exc)


def _etl_layers(run: Run, store, stmts_written: int) -> dict:
    """Traced run only: counts of the matching layers, from the public
    sub-operators of ``resolve`` forced one at a time."""
    from pyspark.sql import functions as F

    from ftm_columnstore_spark.functions.phonetics import tokenize_col
    from ftm_columnstore_spark.model.ftm import NAME_SCHEMAS
    from ftm_columnstore_spark.operators.blocking import (
        blocking_candidates,
        candidate_pairs,
        connected_components,
        derive_fingerprints,
    )
    from ftm_columnstore_spark.operators.xref import accepted_edges, build_xref

    tr = run.tracer
    stmts = store.statements(deduped=True)
    out = {}
    with tr.span("blocking.fingerprint"):
        fpx = derive_fingerprints(stmts).persist()
        out["blocking.fpx_rows"] = tr.force(fpx)
    names = stmts.filter(
        (F.col("prop_type") == "name") & F.col("schema").isin(list(NAME_SCHEMAS))
    )
    out["blocking.udf_rows"] = (
        names.select(F.explode(tokenize_col("value")).alias("t")).distinct().count()
    )
    with tr.span("blocking.pairs"):
        pairs = candidate_pairs(blocking_candidates(fpx, 2, 100)).persist()
        out["blocking.candidate_pairs"] = tr.force(pairs)
    with tr.span("xref.build"):
        xref = build_xref(stmts).persist()
        tr.force(xref)
    with tr.span("xref.accept"):
        edges = accepted_edges(xref).persist()
        out["xref.accepted_edges"] = tr.force(edges)
    with tr.span("blocking.cc"):
        cc = connected_components(edges)
        out["xref.canonical_rows"] = tr.force(cc)
    out["xref.accept_ratio"] = out["xref.accepted_edges"] / max(1, out["blocking.candidate_pairs"])
    for df in (fpx, pairs, xref, edges):
        df.unpersist()
    out["sources.stmts_out"] = stmts_written
    return out


# --- serve -------------------------------------------------------------------

LOOKUPS = ("get_entity", "get_adjacent", "get_inverted")
QUERIES = ("entities", "search")
AGGS = ("aggregations", "stats")
#: the fixed op-class cycle each client walks (client c starts at offset
#: 3c): 6 point lookups, 2 entity queries, 2 aggregations per 10 reads. The
#: ratio is an assumption (no traffic log exists to take it from); the
#: serve figures are averages over it
CYCLE = ("get_entity", "get_adjacent", "entities", "get_inverted", "get_entity",
         "aggregations", "get_adjacent", "search", "get_inverted", "stats")
CYCLE_SET = frozenset(CYCLE)
#: Zipf exponent of the id draws, also an assumption: s slightly above 1,
#: the usual shape of popularity skew, so a few ids take most lookups
ZIPF_S = 1.1
#: spans around the workloads' own calls (not checks or traced probes);
#: the ``spark.*`` per-layer metrics count the jobs inside these
WORK_SPANS = ("sources.read", "store.write", "xref.resolve", "store.optimize",
              "pipeline.prepare", *(f"view.{c}" for c in sorted(CYCLE_SET)))


class ReadInputs:
    """The serve corpus written under ``root`` (the reference state after
    its upsert batch) and the id pools reads draw from."""

    def __init__(self, root: str, seed: int, n: int):
        os.makedirs(root, exist_ok=True)
        self.corpus = c = Corpus(seed, n)
        self.paths = c.write_datasets(root)
        rows, self.upsert_seen = c.upsert_batch()
        self.upsert_path = _write_rows(os.path.join(root, "upsert.ijson"), rows)
        rng = random.Random(seed * 31 + 7)
        self.ids = sorted(c.entities)
        rng.shuffle(self.ids)
        self.referenced = sorted(c.refs())
        rng.shuffle(self.referenced)
        weights = [1.0 / (r ** ZIPF_S) for r in range(1, len(self.ids) + 1)]
        self.cum = {id(self.ids): list(accumulate(weights)),
                    id(self.referenced): list(accumulate(weights[: len(self.referenced)]))}
        self.payment_years = list(range(2008, 2021))
        self.terms = sorted({
            w[:4] for e in c.entities.values() if e.schema == "Company"
            for n in e.props["name"] for w in n.lower().split()
        })

    def pick(self, rng: random.Random, pool: list[str]) -> str:
        """An id of ``pool``, Zipf-skewed over its seeded order."""
        cum = self.cum[id(pool)]
        return pool[min(bisect_left(cum, rng.random() * cum[-1]), len(pool) - 1)]


def _warm_reads(inp: ReadInputs, store) -> None:
    """Every op class once, unchecked and untimed."""
    view = store.view()
    rng = random.Random(0)
    for cls in sorted(CYCLE_SET):
        _read_op(view, _read_params(inp, cls, rng))


def serve_setup(run: Run) -> tuple[ReadInputs, object]:
    from ftm_columnstore_spark import Store
    from ftm_columnstore_spark.sources import read_entities

    inp = ReadInputs(os.path.join(run.tmp, "in"), run.seed, run.size("serve"))
    store = Store(run.spark, os.path.join(run.tmp, "store"))
    for ds, path in inp.paths.items():
        store.write_entities(read_entities(run.spark, path, dataset=ds),
                             dataset=ds, last_seen=BASE_SEEN)
    store.write_entities(read_entities(run.spark, inp.upsert_path),
                         last_seen=inp.upsert_seen)
    store.optimize()
    _warm_reads(inp, store)
    return inp, store


def _read_params(inp: ReadInputs, cls: str, rng: random.Random) -> tuple:
    if cls in ("get_entity", "get_adjacent"):
        return cls, inp.pick(rng, inp.ids)
    if cls == "get_inverted":
        return cls, inp.pick(rng, inp.referenced)
    if cls == "entities":
        return cls, rng.choice(inp.payment_years), 10
    if cls == "search":
        return cls, rng.choice(inp.terms), 10
    if cls == "aggregations":
        return cls, rng.choice(("currency", "year"))
    return (cls,)


def _read_op(view, params: tuple):
    from ftm_columnstore_spark import Q

    cls = params[0]
    if cls == "get_entity":
        return view.get_entity(params[1])
    if cls == "get_adjacent":
        return set(view.get_adjacent(params[1]))
    if cls == "get_inverted":
        return set(view.get_inverted(params[1]))
    if cls == "entities":
        q = Q().where(schema="Payment", date__gte=params[1]).order_by(
            "amountEur", ascending=False)[: params[2]]
        return list(view.entities(q))
    if cls == "search":
        return [e["id"] for e in view.entities(
            Q().where(schema="Company").search(params[1])[: params[2]])]
    if cls == "aggregations":
        return view.aggregations(
            Q().where(schema="Payment").aggregate("sum", "amountEur", groups=params[1]))
    return view.stats()


def _read_check(ck: Checker, c: Corpus, params: tuple, got) -> None:
    """Compare one read with the reference state ``c``."""
    cls = params[0]
    name = f"read.{cls}"
    if cls == "get_entity":
        ck.expect(name, c.entity(params[1]), got)
    elif cls == "get_adjacent":
        ck.expect(name, c.adjacent(params[1]), got)
    elif cls == "get_inverted":
        ck.expect(name, c.inverted(params[1]), got)
    elif cls == "entities":
        want = [c.entity(i) for i in c.top_payments(params[1], params[2])]
        ck.expect(name, want, got)
    elif cls == "search":
        ck.expect(name, c.search(params[1], "Company", params[2]), got)
    elif cls == "aggregations":
        total, per = c.payment_sums(params[1])

        def same(want, res):
            g = res["groups"][params[1]]["sum"]["amountEur"]
            return (_approx(want[0], res["sum"]["amountEur"])
                    and set(g) == set(want[1])
                    and all(_approx(v, g[k]) for k, v in want[1].items()))

        ck.expect(name, (total, per), got, same)
    else:
        ck.expect(name, c.stats(), got)


def _closed_loop(run: Run, inp: ReadInputs, store, deadline: float) -> list[tuple]:
    """``nproc`` client threads issue reads back to back until the
    deadline; returns (params, answer, start, end) per completed read."""
    tr = run.tracer
    view = store.view()
    clients = max(1, run.cores)
    results: list[list] = [[] for _ in range(clients)]

    def client(c: int) -> None:
        rng = random.Random(run.seed * 1009 + c)
        i = 3 * c
        while time.perf_counter() < deadline:
            params = _read_params(inp, CYCLE[i % len(CYCLE)], rng)
            i += 1
            t0 = time.perf_counter()
            try:
                with tr.span(f"view.{params[0]}"):
                    if tr.enabled:
                        with tr.span("store.read_build"):
                            store.statements()
                    got = _read_op(view, params)
            except Exception as exc:  # noqa: BLE001 - a failed read is a result
                run.checker.error(f"read.{params[0]}", exc)
                continue
            results[c].append((params, got, t0, time.perf_counter()))

    threads = [threading.Thread(target=client, args=(c,)) for c in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return [r for rs in results for r in rs]


def _read_figures(run: Run, done: list[tuple], elapsed: float, cpu: float) -> dict:
    lat = {cls: [r[3] - r[2] for r in done if r[0][0] == cls] for cls in CYCLE_SET}
    qps = len(done) / elapsed
    run.extra.update({
        "serve.read_qps": (qps, "1/s"),
        "serve.lookup_p50_s": (median([x for c in LOOKUPS for x in lat[c]]), "s"),
        "serve.query_p50_s": (median([x for c in QUERIES for x in lat[c]]), "s"),
        "serve.agg_p50_s": (median([x for c in AGGS for x in lat[c]]), "s"),
        "serve.read_p90_s": (percentile([r[3] - r[2] for r in done], 90), "s"),
        "serve.read_samples": (len(done), "count"),
        "serve.clients": (max(1, run.cores), "count"),
    })
    layers = {f"view.{cls}_p50_s": median(lat[cls]) for cls in CYCLE_SET}
    layers["reads"] = len(done)
    layers["query_rows"] = sum(len(r[1]) for r in done if r[0][0] in QUERIES)
    return {
        "cpu_per_op_s": cpu / max(1, len(done)),
        "wall_per_op_s": elapsed / max(1, len(done)),
        "window_s": elapsed,
        "layers": layers,
    }


def serve_measure(run: Run, inp: ReadInputs, store) -> dict:
    cpu0, start = tree_cpu_s(), time.perf_counter()
    done = _closed_loop(run, inp, store, start + run.seconds)
    elapsed, cpu = time.perf_counter() - start, tree_cpu_s() - cpu0
    for params, got, _t0, _t1 in done:
        _read_check(run.checker, inp.corpus, params, got)
    out = _read_figures(run, done, elapsed, cpu)
    if run.tracer.enabled:
        _compiler_probe(run, store, inp)
    out["layers"]["store.dedup_reads"] = 0 if store.is_compacted() else len(done)
    return out


def _compiler_probe(run: Run, store, inp: ReadInputs) -> None:
    """Traced run only: plan-build time of the DSL compiler, measured
    apart from execution (the View calls build and run in one go)."""
    from ftm_columnstore_spark import Q
    from ftm_columnstore_spark.plans.compiler import compile_aggregation_df

    tr = run.tracer
    view = store.view()
    rng = random.Random(run.seed)
    for _ in range(5):
        with tr.span("compiler.build"):
            view.entities_df(Q().where(schema="Payment", date__gte=rng.choice(
                inp.payment_years)).order_by("amountEur", ascending=False)[:10])
        with tr.span("compiler.build"):
            q = Q().where(schema="Payment").aggregate("sum", "amountEur", groups="year")
            compile_aggregation_df(store.statements(), q, q.aggregations[0])


# --- training-data preparation ---------------------------------------------------

PIPELINE_KW = dict(
    # the CLI clean verb's gate: a token floor with every other rule off
    quality={"min_tokens": 8, "max_tokens": 10**12, "min_stopwords": 0,
             "min_mean_word_len": 0.0, "max_mean_word_len": 1e9,
             "min_alnum_ratio": 0.0},
    line_dedup_sep="\n",
    substring_dedup={"k": 12},
    near_dedup={},
    splits=SPLITS,
    seed="perfbench",
)


def _docs_input(run: Run, name: str, seed: int, n: int):
    docs = make_documents(seed, n)
    path = os.path.join(run.tmp, name)
    run.spark.createDataFrame(docs.rows, "doc_id long, text string") \
        .write.mode("overwrite").parquet(path)
    return docs, path


def _prepare_pass(run: Run, in_path: str, out_path: str) -> None:
    from ftm_columnstore_spark.operators.dedup import unpersist_intermediates
    from ftm_columnstore_spark.operators.pipeline import prepare_training_data

    with run.tracer.span("pipeline.prepare"):
        out = prepare_training_data(run.spark.read.parquet(in_path), **PIPELINE_KW)
        out.write.mode("overwrite").parquet(out_path)
        unpersist_intermediates(out)


def _prepare_check(run: Run, docs, out_path: str) -> None:
    ck = run.checker
    try:
        rows = run.spark.read.parquet(out_path).select("doc_id", "text", "split").collect()
    except Exception as exc:  # noqa: BLE001 - a failed check is a result
        ck.error("pipeline.read_output", exc)
        return
    kept = {r["doc_id"]: r for r in rows}
    for g in docs.exact_groups:
        ck.expect(f"pipeline.exact_group.{g[0]}", 1, sum(i in kept for i in g))
    ck.expect("pipeline.split_labels", set(), {r["split"] for r in rows} - set(SPLITS))
    ck.expect("pipeline.short_dropped", [], [i for i in docs.short if i in kept])
    text = dict(docs.rows)
    ck.expect("pipeline.unique_unchanged", [],
              [i for i in docs.unique if i not in kept or kept[i]["text"] != text[i]])


# --- the etl workload: refresh cycle, then training-data pass --------------------

def etl_setup(run: Run) -> tuple[_EtlInputs, object, str]:
    inp = _EtlInputs(os.path.join(run.tmp, "in"), run.seed, run.size("etl"))
    docs, docs_path = _docs_input(run, "docs", run.seed, run.size("docs"))
    # warm-up: both phases on small inputs of another seed, so the JVM's
    # code generation and the Python UDF workers are warm. Both are chains
    # of small jobs that leave most executor time idle, so they run side
    # by side to keep set-up short
    warm_seed = run.seed + 1_000_003
    warm = _EtlInputs(os.path.join(run.tmp, "warm"), warm_seed, WARMUP_SIZES["etl"])
    _wdocs, wpath = _docs_input(run, "warm-docs", warm_seed, WARMUP_SIZES["docs"])
    tracer, run.tracer = run.tracer, Tracer(run.spark, False)
    try:
        with ThreadPoolExecutor(2) as pool:
            cycle = pool.submit(_etl_cycle, run, warm, os.path.join(run.tmp, "warm-store"))
            prep = pool.submit(_prepare_pass, run, wpath, os.path.join(run.tmp, "warm-out"))
            cycle.result()["cmap"].unpersist()
            prep.result()
    finally:
        run.tracer = tracer
    shutil.rmtree(os.path.join(run.tmp, "warm-store"), ignore_errors=True)
    return inp, docs, docs_path


def etl_measure(run: Run, inp: _EtlInputs, docs, docs_path: str) -> dict:
    """One refresh cycle and one training-data pass, timed apart (the
    checks between them are not timed). The run does this fixed work
    whatever ``--seconds`` says."""
    try:
        t = _etl_cycle(run, inp, os.path.join(run.tmp, "store"))
    except Exception as exc:  # noqa: BLE001 - a failed op is a result
        run.checker.error("etl.cycle", exc)
        return {}
    _etl_check(run, inp, t["store"])
    out_path = os.path.join(run.tmp, "out")
    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    try:
        _prepare_pass(run, docs_path, out_path)
    except Exception as exc:  # noqa: BLE001 - a failed op is a result
        run.checker.error("pipeline.pass", exc)
        return {}
    prep_wall, prep_cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
    _prepare_check(run, docs, out_path)
    live = inp.corpus.live_statements()
    store_bytes, _files = dir_bytes_files(t["store"].uri)
    run.extra.update({
        "etl.wall_s": (t["wall"], "s"),
        "etl.write_stmts_per_s": (inp.ingested / sum(t["write"]), "1/s"),
        "etl.resolve_s": (t["resolve"], "s"),
        "etl.optimize_s": (t["optimize"], "s"),
        "etl.bytes_per_stmt": (store_bytes / live, "B"),
        "etl.stmts_per_s": (inp.ingested / t["wall"], "1/s"),
        "pipeline.wall_s": (prep_wall, "s"),
        "pipeline.docs_per_s": (len(docs.rows) / prep_wall, "1/s"),
        "pipeline.docs": (len(docs.rows), "count"),
    })
    layers = {}
    if run.tracer.enabled:
        layers = _etl_layers(run, t["store"], inp.ingested)
        layers["store.files_written"] = t["files_written"]
        layers["store.dedup_reads"] = t["dedup_reads"]
    t["cmap"].unpersist()
    return {
        "cpu_per_op_s": t["cpu"] + prep_cpu,
        "wall_per_op_s": t["wall"] + prep_wall,
        "window_s": t["wall"] + prep_wall,
        "layers": layers,
    }
