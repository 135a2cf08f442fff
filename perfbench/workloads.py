"""The benchmark's workloads. Each drives the engine only through its
public functions, as one closed-loop client, and checks every result
against the numpy references in ``reference.py``.

A workload has a set-up phase (inputs generated from the seed, then
loaded and indexed) and a timed phase that runs operations back to back
until ``seconds`` have passed. Every call into an engine layer is wrapped
in a tracer span; see ``trace.py``.
"""

from __future__ import annotations

import os
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from toy_vector_db_spark import caches
from toy_vector_db_spark.operators import (
    curation, decontam, dedup, evaluation, hnsw, knn, similarity, textstats,
)
from toy_vector_db_spark.sources import ndjson

from perfbench import gen, reference as ref

K = ref.K
SHARDS = 8
SPLIT_RATIO = 0.95
QUERY_ID0 = 1_000_000_000  # query ids never collide with vector ids

# Input sizes. "full" is what the benchmark measures; "tiny" is for the
# smoke test only.
SIZES = {
    "full": dict(lines=2000, docs=2000, base=2000, batch=64, micro=100,
                 tombstones=20, episode=3, setup_reps=2),
    "tiny": dict(lines=400, docs=300, base=400, batch=16, micro=20,
                 tombstones=4, episode=2, setup_reps=2),
}
KINDS = ("exact", "hnsw", "ivfpq")
# serve_fresh rounds run before timing, after one batch on all three
# families: the first batches of a session are slower while the JVM
# compiles the serving paths.
WARMUP_ROUNDS = 2
# Streams of vector draws (gen.Mixture) for the base and the queries.
BASE, QUERIES, INGEST = range(3)
SCHEMA_Q = "query_id bigint, query_vec array<float>"
SCHEMA_V = "vec_id bigint, embedding array<float>"


class Run:
    """State of one benchmark run: session, tracer, inputs and tallies."""

    def __init__(self, spark, tracer, workdir, seed, seconds, size):
        self.spark, self.tr, self.dir = spark, tracer, workdir
        self.seed, self.seconds, self.size = seed, seconds, SIZES[size]
        self.queries = gen.Mixture(seed, QUERIES)
        self.rng = np.random.default_rng([seed, 99])
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.phase = "setup"
        self.samples: dict[str, dict[str, list[float]]] = {"setup": {}, "timed": {}}
        self.corrupt = None  # smoke-test hook: mutates one result before checking

    def sample(self, name: str, value: float) -> None:
        self.samples[self.phase].setdefault(name, []).append(value)

    def get(self, name: str) -> list[float]:
        """Samples of ``name`` from the timed phase, else from set-up."""
        return self.samples["timed"].get(name) or self.samples["setup"].get(name, [])

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.errors.append(what)
        return ok

    def op(self, fn, *args) -> None:
        """One attempted operation: it fails if it raises or a check fails."""
        self.attempted += 1
        n_err = len(self.errors)
        try:
            fn(*args)
        except Exception as e:  # a failed operation is counted, not fatal
            self.errors.append(f"{type(e).__name__}: {e}"[:500])
            traceback.print_exc()
        if len(self.errors) > n_err:
            self.failed += 1

    def storage_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)

    def cache_entries(self) -> int:
        return sum(len(keys) for _d, keys in caches.snapshot())

    def qframe(self, ids, vecs):
        return self.spark.createDataFrame(
            pd.DataFrame({"query_id": np.asarray(ids, np.int64),
                          "query_vec": list(vecs)}), SCHEMA_Q)

    def vframe(self, ids, vecs):
        return self.spark.createDataFrame(
            pd.DataFrame({"vec_id": np.asarray(ids, np.int64),
                          "embedding": list(vecs)}), SCHEMA_V)


# -- layer calls ---------------------------------------------------------------

def reset_engine(run: Run) -> None:
    caches.reset()
    run.spark.catalog.clearCache()


def scan_points(run: Run, path: str, n_lines: int, n_bad: int):
    """NDJSON scan → (vec_id, embedding) rows, persisted, with the
    reference's take-before-parse line limit."""
    tr = run.tr
    with tr.span("ndjson.scan", site=True) as s:
        pts = ndjson.read_ndjson(run.spark, path, limit=n_lines)
        pts = pts.select(F.col("body").cast("bigint").alias("vec_id"),
                         "embedding").persist()
        n = pts.count()
    run.sample("ndjson.scan_s", s.dur)
    run.sample("ndjson.rows_per_s", n_lines / s.dur)
    run.sample("ndjson.dropped_lines", n_lines - n)
    run.check(n_lines - n == n_bad,
              f"ndjson dropped {n_lines - n} lines, {n_bad} were malformed")
    return pts, n


def build_indexes(run: Run, base) -> dict:
    """HNSW (8 hash shards) and IVF-PQ over ``base``; returns the index parts."""
    tr = run.tr
    before = run.storage_bytes()
    with tr.span("hnsw.build", site=True) as s:
        parted, edges = hnsw.hnsw_index(base, SHARDS)
    run.sample("hnsw.build_s", s.dur)
    with tr.span("ivf.train", site=True) as s:
        cents = similarity.cached_trained_centroids(base)
    run.sample("ivf.train_s", s.dur)
    with tr.span("pq.train", site=True) as s:
        books = similarity.trained_pq_codebooks(base)
    run.sample("pq.train_s", s.dur)
    with tr.span("ivfpq.encode", site=True) as s:
        cc = similarity.cached_codes_cells(base)
    run.sample("ivfpq.encode_s", s.dur)
    if tr.enabled:  # a count only the traced run needs; charged to the tracer
        t = time.perf_counter()
        run.sample("hnsw.edges", edges.count())
        tr.bookkeeping_s += time.perf_counter() - t
    return dict(parted=parted, edges=edges, cents=cents, books=books, cc=cc,
                storage0=before)


def search(run: Run, kind: str, layer: str, make, req=None, pairs: int = 0
           ) -> dict[int, list]:
    """Construct the search DataFrame with ``make()`` and collect it.
    ``pairs`` is the number of (vector, query) distances an exact scan
    evaluates. Returns {query_id: [(vec_id, dist), ...]} in rank order."""
    tr = run.tr
    with tr.span(layer, req) as top:
        with tr.span(f"{layer}.construct", site=True) as c:
            df = make().select("query_id", "vec_id", "dist", "rank")
        with tr.span(f"{layer}.exec", site=True) as x:
            rows = df.collect()
            tr.executed(x, df)
    run.sample(f"{layer}.construct_ms", c.dur * 1e3)
    run.sample(f"{layer}.exec_ms", x.dur * 1e3)
    run.sample(f"serve.{kind}_ms", top.dur * 1e3)
    if pairs:
        run.sample("knn.pairs_per_s", pairs / x.dur)
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(int(r["query_id"]), []).append((int(r["vec_id"]), float(r["dist"])))
    if run.corrupt:
        run.corrupt(kind, out)
    return out


def check_results(run: Run, kind: str, got: dict, qids, qvecs, exact: ref.Exact,
                  ref_ids, ref_d, banned: set[int] = frozenset()) -> None:
    ids = {q: [v for v, _d in hits] for q, hits in got.items()}
    returned = {v for hits in ids.values() for v in hits}
    run.check(not (returned & banned), f"{kind}: returned a tombstoned id")
    run.check(set(ids) == {int(q) for q in qids}, f"{kind}: missing queries")
    if kind == "exact":
        run.check(ref.exact_matches(ref_ids, ref_d, got, qids, exact, qvecs),
                  "exact: differs from the numpy brute force")
        return
    r = ref.recall(ref_ids, ids, qids)
    run.sample(f"recall.{kind}", r)
    floor = ref.HNSW_RECALL_FLOOR if kind == "hnsw" else ref.IVFPQ_RECALL_FLOOR
    run.check(r >= floor, f"{kind}: recall@{K} {r:.3f} below {floor}")


def serve_all(run: Run, idx: dict, base, qdf, qids, qvecs, exact, req=None,
              kinds=KINDS) -> dict:
    """Serve one query frame on each index family and check each result."""
    ref_ids, ref_d = exact.topk(qvecs)
    calls = {
        "exact": ("knn.exact", lambda: knn.knn_exact_batch(base, qdf, K)),
        "hnsw": ("hnsw.search", lambda: hnsw.knn_hnsw_prebuilt(
            idx["parted"], idx["edges"], qdf, K)),
        "ivfpq": ("ivfpq.search", lambda: similarity.knn_ivfpq(
            base, qdf, K, codes_cells=idx["cc"], cents=idx["cents"],
            books=idx["books"])),
    }
    out = {}
    for kind in kinds:
        layer, make = calls[kind]
        pairs = len(exact.ids) * len(qids) if kind == "exact" else 0
        out[kind] = search(run, kind, layer, make, req, pairs)
        check_results(run, kind, out[kind], qids, qvecs, exact, ref_ids, ref_d)
    return out


def engine_recall(run: Run, approx: dict, exact_res: dict) -> None:
    """The engine's own evaluation layer scores HNSW against exact; it must
    agree with the same recall computed here."""
    rows = lambda res: [(q, v) for q, hits in res.items() for v, _d in hits]  # noqa: E731
    schema = "query_id bigint, vec_id bigint"
    a = run.spark.createDataFrame(rows(approx), schema)
    e = run.spark.createDataFrame(rows(exact_res), schema)
    with run.tr.span("evaluation.recall", site=True) as s:
        rec = evaluation.evaluate_recall(a, e)
        prec = evaluation.evaluate_precision(a, e)
        got = rec.join(prec, "query_id").agg(F.avg("recall"), F.avg("precision")).first()
    run.sample("evaluation.recall_s", s.dur)
    want = ref.recall(np.array([[v for v, _d in exact_res[q]] for q in sorted(exact_res)]),
                      {q: [v for v, _d in h] for q, h in approx.items()}, sorted(exact_res))
    run.check(abs(got[0] - want) < 1e-4 and abs(got[1] - want) < 1e-4,
              f"evaluate_recall/precision {got[0]}/{got[1]} != {want}")


# -- pipeline_cold ---------------------------------------------------------------

def _pipeline_inputs(run: Run, lines: int, n_docs: int, stream: int) -> dict:
    """The NDJSON points file and the document corpus, as files."""
    vecs = gen.Mixture(run.seed, stream).draw(lines)
    nd = os.path.join(run.dir, f"points-{stream}.ndjson")
    rng = np.random.default_rng([run.seed, stream, 1])
    n_bad = gen.write_ndjson(nd, vecs, rng)
    docs, pairs, words = gen.corpus(n_docs, rng)
    dp = os.path.join(run.dir, f"documents-{stream}.parquet")
    pq.write_table(pa.table({"doc_id": pa.array([d[0] for d in docs], pa.int64()),
                             "text": [d[1] for d in docs]}), dp)
    terms = [words[int(i)] for i in rng.choice(200, 3, replace=False)]
    return dict(ndjson=nd, n_lines=lines + n_bad, n_bad=n_bad, vecs=vecs,
                docs_path=dp, n_docs=len(docs), pairs=pairs, terms=terms)


def _vector_pipeline(run: Run, inp: dict, req) -> None:
    pts, n = scan_points(run, inp["ndjson"], inp["n_lines"], inp["n_bad"])
    base, held = ndjson.split_dataset(pts, "vec_id", n, SPLIT_RATIO)
    idx = build_indexes(run, base)
    cut = ndjson.split_count(n, SPLIT_RATIO)
    exact = ref.Exact(np.arange(cut), inp["vecs"][:cut])
    qids = np.arange(cut, n)
    qdf = held.select(F.col("vec_id").alias("query_id"),
                      F.col("embedding").alias("query_vec"))
    res = serve_all(run, idx, base, qdf, qids, inp["vecs"][cut:n], exact, req)
    run.sample("index_bytes", run.storage_bytes() - idx["storage0"])
    run.sample("index_raw_bytes", cut * gen.DIM * 4)
    engine_recall(run, res["hnsw"], res["exact"])


def _curation(run: Run, inp: dict) -> None:
    tr = run.tr
    docs = run.spark.read.parquet(inp["docs_path"])

    def digest(df):
        return df.agg(F.count("*").alias("n"),
                      F.bit_xor(F.xxhash64(*df.columns)).alias("h"))

    with tr.span("textstats.quality", site=True) as s:
        q = digest(textstats.quality_features(docs)).first()
    run.sample("textstats.quality_s", s.dur)
    run.check(q["n"] == inp["n_docs"], f"quality_features rows {q['n']}")
    with tr.span("dedup.clusters", site=True) as s:
        cl = dedup.dup_clusters(docs).select("doc_id", "cluster_id").collect()
    run.sample("dedup.clusters_s", s.dur)
    cluster_of = {int(r[0]): int(r[1]) for r in cl}
    run.sample("dedup.clustered_docs", sum(1 for d, c in cluster_of.items() if d != c))
    got = ref.pairs_recovered(inp["pairs"], cluster_of)
    run.sample("dedup.pair_recovery", got)
    run.check(len(cluster_of) == inp["n_docs"], f"dup_clusters rows {len(cluster_of)}")
    run.check(got >= ref.DEDUP_PAIR_FLOOR, f"dup_clusters recovered {got:.3f} of pairs")
    with tr.span("decontam.ngram", site=True) as s:
        d = decontam.decontaminate_ngram(docs).agg(
            F.count("*").alias("n"), F.sum(F.col("contaminated").cast("int"))).first()
    run.sample("decontam.ngram_s", s.dur)
    run.check(d["n"] == inp["n_docs"] - decontam.EVAL_MAX_ID, f"decontam rows {d['n']}")
    with tr.span("curation.bm25", site=True) as s:
        b = curation.bm25_topk(docs, inp["terms"]).collect()
    run.sample("curation.bm25_s", s.dur)
    run.check(0 < len(b) <= curation.BM25_K, f"bm25_topk rows {len(b)}")


def pipeline_cold(run: Run):
    """Each iteration: cleared engine caches, then NDJSON scan → split →
    HNSW + IVF-PQ builds → the held-out batch on exact/HNSW/IVF-PQ →
    recall/precision, then the curation chain over the document corpus."""
    tr = run.tr
    s = run.size

    def setup():
        with tr.span("setup.inputs"):
            return _pipeline_inputs(run, s["lines"], s["docs"], BASE)

    inp = _setup_reps(run, setup)
    with tr.span("setup.warmup"):
        run.op(_iteration, run, inp, "warmup")

    def timed():
        i = 0
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < run.seconds or i == 0:
            with tr.span("pipeline.iteration", req=i) as s:
                run.op(_iteration, run, inp, i)
            run.sample("op_ms", s.dur * 1e3)
            i += 1
        return i * (inp["n_lines"] + inp["n_docs"])
    return timed


def _iteration(run: Run, inp: dict, req) -> None:
    tr = run.tr
    with tr.span("caches.reset", req):
        reset_engine(run)
    with tr.span("pipeline.vector", req) as v:
        _vector_pipeline(run, inp, req)
    run.sample("pipeline_s", v.dur)
    with tr.span("pipeline.curation", req) as c:
        _curation(run, inp)
    run.sample("curate_docs_per_s", inp["n_docs"] / c.dur)
    n = run.cache_entries()
    run.sample("caches.entries", n)
    run.sample("caches.entries_added_per_batch", n)


# -- serving workloads -------------------------------------------------------------

def _serving_setup(run: Run) -> dict:
    """Generate the base NDJSON, then load it and build both indexes;
    ``_setup_reps`` repeats this from cleared caches."""
    tr = run.tr
    s = run.size
    with tr.span("setup.inputs"):
        vecs = gen.Mixture(run.seed, BASE).draw(s["base"])
        nd = os.path.join(run.dir, "base.ndjson")
        n_bad = gen.write_ndjson(nd, vecs, np.random.default_rng([run.seed, BASE, 1]))
    with tr.span("setup.reset"):
        reset_engine(run)
    pts, n = scan_points(run, nd, len(vecs) + n_bad, n_bad)
    idx = build_indexes(run, pts)
    return dict(base=pts, idx=idx, vecs=vecs, exact=ref.Exact(np.arange(n), vecs))


def _setup_reps(run: Run, setup):
    """Run ``setup`` size["setup_reps"] times and keep the last result;
    the median rep is what setup_s reports."""
    out = None
    for _ in range(run.size["setup_reps"]):
        t = time.perf_counter()
        out = setup()
        run.sample("setup_rep_s", time.perf_counter() - t)
    return out


def serve_fresh(run: Run):
    """Static indexes over the base; 64-query batches of never-seen query
    vectors go round-robin to exact, HNSW and IVF-PQ. One operation is a
    round: one fresh batch to each of the three."""
    tr = run.tr
    st = _setup_reps(run, lambda: _serving_setup(run))
    b = run.size["batch"]
    counter = [0]

    def batch(kinds, req):
        qids = QUERY_ID0 + counter[0] + np.arange(b)
        counter[0] += b
        qv = run.queries.draw(b)
        with tr.span("client.queries", req):
            qdf = run.qframe(qids, qv)
        return serve_all(run, st["idx"], st["base"], qdf, qids, qv, st["exact"],
                         req, kinds)

    def round_(req):
        for kind in KINDS:
            e0 = run.cache_entries()
            run.op(batch, (kind,), req)
            run.sample("caches.entries_added_per_batch", run.cache_entries() - e0)

    with tr.span("setup.warmup"):
        res = {}
        run.op(lambda: res.update(batch(KINDS, "warmup")))
        run.sample("index_bytes", run.storage_bytes() - st["idx"]["storage0"])
        run.sample("index_raw_bytes", len(st["vecs"]) * gen.DIM * 4)
        run.op(engine_recall, run, res["hnsw"], res["exact"])
        for w in range(WARMUP_ROUNDS):
            round_(f"warmup.{w}")

    def timed():
        i = 0
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < run.seconds or i < 2:
            with tr.span("serve.round", req=i) as s:
                round_(i)
            run.sample("op_ms", s.dur * 1e3)
            i += 1
        run.sample("caches.entries", run.cache_entries())
        return i * len(KINDS) * b
    return timed


def ingest_serve(run: Run):
    """Episodes of chained micro-batch steps on the built indexes. A step
    upserts new vectors into HNSW and IVF-PQ, tombstones some ids and
    re-serves one fixed canary panel on exact, HNSW and IVF-PQ. Each
    episode starts again from the built indexes."""
    tr = run.tr
    st = _setup_reps(run, lambda: _serving_setup(run))
    s = run.size
    base, idx, vecs = st["base"], st["idx"], st["vecs"]
    canary_ids = QUERY_ID0 + np.arange(s["batch"])
    canary_v = run.queries.draw(s["batch"])
    ingest = gen.Mixture(run.seed, INGEST)
    canary = run.qframe(canary_ids, canary_v)
    next_id = [len(vecs)]

    def episode(req):
        state = dict(parted=idx["parted"], edges=idx["edges"], batches=[],
                     ids=list(range(len(vecs))), vecs=[vecs], dead=set(),
                     upserted=set(), first=None)
        for j in range(s["episode"]):
            e0 = run.cache_entries()
            with tr.span("ingest.step", req=f"{req}.{j}") as sp:
                run.op(step, state, f"{req}.{j}")
            run.sample("op_ms", sp.dur * 1e3)
            run.sample("caches.entries_added_per_batch", run.cache_entries() - e0)
            if j == 0:
                state["first"] = sp.dur
        run.sample("hnsw.upsert_growth", sp.dur / state["first"])

    def step(state, req):
        n_new = s["micro"]
        ids = np.arange(next_id[0], next_id[0] + n_new)
        next_id[0] += n_new
        bv = ingest.draw(n_new)
        bdf = run.vframe(ids, bv)
        state["batches"].append(bdf)
        state["ids"].extend(ids.tolist())
        state["vecs"].append(bv)
        state["upserted"].update(ids.tolist())
        with tr.span("hnsw.upsert", req, site=True) as u:
            state["parted"], state["edges"] = hnsw.hnsw_upsert(
                state["parted"], state["edges"], bdf, SHARDS)
        run.sample("hnsw.upsert_construct_ms", u.dur * 1e3)
        new_rows = state["batches"][0]
        for more in state["batches"][1:]:
            new_rows = new_rows.unionByName(more)
        with tr.span("ivfpq.upsert", req, site=True) as u:
            cc, cents, books = similarity.ivfpq_upsert(base, new_rows)
        run.sample("ivfpq.upsert_ms", u.dur * 1e3)
        alive = [i for i in state["ids"] if i not in state["dead"]]
        dead = run.rng.choice(alive, s["tombstones"], replace=False)
        state["dead"].update(int(d) for d in dead)
        tomb = run.spark.createDataFrame([(int(d),) for d in sorted(state["dead"])],
                                         "vec_id bigint")
        live_base = base.unionByName(new_rows)
        all_ids = np.array(state["ids"])
        keep = np.array([i not in state["dead"] for i in state["ids"]])
        exact = ref.Exact(all_ids[keep], np.concatenate(state["vecs"])[keep])
        ref_ids, ref_d = exact.topk(canary_v)
        live_cc = cc.join(F.broadcast(tomb), "vec_id", "left_anti")
        calls = [
            ("exact", "knn.exact", lambda: knn.knn_exact_batch(
                live_base.join(F.broadcast(tomb), "vec_id", "left_anti"), canary, K)),
            ("hnsw", "hnsw.delete_search", lambda: hnsw.knn_hnsw_deleted(
                state["parted"], state["edges"], tomb, canary, K)),
            ("ivfpq", "ivfpq.search", lambda: similarity.knn_ivfpq(
                live_base, canary, K, codes_cells=live_cc, cents=cents, books=books)),
        ]
        for kind, layer, make in calls:
            pairs = len(exact.ids) * len(canary_ids) if kind == "exact" else 0
            got = search(run, kind, layer, make, req, pairs)
            check_results(run, kind, got, canary_ids, canary_v, exact, ref_ids, ref_d,
                          banned=state["dead"])
            if kind != "exact":
                found, wanted = ref.subset_recall(
                    ref_ids, {q: [v for v, _d in h] for q, h in got.items()},
                    canary_ids, state["upserted"])
                run.sample(f"upserted_found.{kind}", found)
                run.sample(f"upserted_wanted.{kind}", wanted)

    with tr.span("setup.warmup"):
        res = {}
        run.op(lambda: res.update(serve_all(run, idx, base, canary, canary_ids,
                                            canary_v, st["exact"], "warmup")))
        run.sample("index_bytes", run.storage_bytes() - idx["storage0"])
        run.sample("index_raw_bytes", len(vecs) * gen.DIM * 4)
        run.op(engine_recall, run, res["hnsw"], res["exact"])

    def upserted_found():
        for kind in ("hnsw", "ivfpq"):
            found = sum(run.get(f"upserted_found.{kind}"))
            wanted = sum(run.get(f"upserted_wanted.{kind}"))
            floor = ref.HNSW_RECALL_FLOOR if kind == "hnsw" else ref.IVFPQ_RECALL_FLOOR
            run.check(wanted > 0 and found / wanted >= floor,
                      f"{kind}: found {found} of {wanted} upserted neighbours")

    def timed():
        e = 0
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < run.seconds or e == 0:
            episode(e)
            e += 1
        run.op(upserted_found)
        run.sample("caches.entries", run.cache_entries())
        return e * s["episode"] * s["micro"]
    return timed


def corrupter(kind: str):
    """Smoke-test hook: negate every id one index family returns, so a
    working check must reject the result."""
    def corrupt(k: str, out: dict) -> None:
        if k == kind:
            for q in out:
                out[q] = [(-1 - v, d) for v, d in out[q]]
    return corrupt


WORKLOADS = {
    "pipeline_cold": pipeline_cold,
    "serve_fresh": serve_fresh,
    "ingest_serve": ingest_serve,
}

