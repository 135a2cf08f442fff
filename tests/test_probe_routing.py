"""Driver-side IVF probe routing for bounded query batches.

``similarity._probe_routing`` ranks cells in numpy on the driver; the
distributed ``_ivf_probes`` / ``_ivf_probes_labeled`` frames rank them in
Spark SQL. The two share no code, so each checks the other: the SQL form
is what oversized batches and ``hnsw.knn_hnsw_routed`` route with, the
numpy form is what every bounded IVF-family search routes with. They must
agree cell for cell, ties included.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from toy_vector_db_spark.operators import knn, similarity

CENTS_SCHEMA = "centroid_id bigint, centroid_vec array<double>"


def _queries(spark, vecs, dtype="float", id0=0):
    return spark.createDataFrame(
        pd.DataFrame({
            "query_id": np.arange(id0, id0 + len(vecs), dtype=np.int64),
            "query_vec": [np.asarray(v) for v in vecs],
        }),
        f"query_id bigint, query_vec array<{dtype}>",
    )


def _cents(spark, ids, vecs):
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)],
        CENTS_SCHEMA,
    )


def _spark_routing(probes):
    out: dict[int, list] = {}
    for r in probes.select("query_id", "centroid_id").collect():
        out.setdefault(int(r[0]), []).append(int(r[1]))
    return out


def _assert_same_routing(qs, cents, nprobes=(1, 3, 8, 16, 20)):
    for nprobe in nprobes:
        want = _spark_routing(similarity._ivf_probes(qs, cents, nprobe))
        got = similarity._probe_routing(qs, cents, nprobe)
        assert got == want, f"nprobe={nprobe}"


def test_routing_matches_sql_on_random_batches(spark):
    rng = np.random.default_rng(11)
    cents = _cents(spark, rng.permutation(16) * 3 + 5, rng.normal(size=(16, 32)))
    for b in range(3):
        qs = _queries(spark, rng.normal(size=(40, 32)).astype(np.float32),
                      id0=1000 * b)
        _assert_same_routing(qs, cents)
    for d in (24, 40):  # vectors shorter and longer than the centroids
        _assert_same_routing(
            _queries(spark, rng.normal(size=(8, d)).astype(np.float32)), cents
        )


def test_routing_matches_sql_on_negated_coordinates(spark):
    """Negative similarities clamp to 0, so many cells tie at qd = 1.0
    and only the centroid_id tiebreak orders them."""
    rng = np.random.default_rng(12)
    C = np.abs(rng.normal(size=(16, 32)))
    cents = _cents(spark, rng.permutation(16), C)
    Q = np.concatenate([-C[:8], -np.abs(rng.normal(size=(8, 32)))])
    _assert_same_routing(_queries(spark, Q, "double"), cents)
    mixed = rng.normal(size=(16, 32)) * np.where(rng.random((16, 32)) < 0.5, -1, 1)
    _assert_same_routing(_queries(spark, mixed.astype(np.float32)), cents)


def test_routing_matches_sql_on_queries_equal_to_centroids(spark):
    rng = np.random.default_rng(13)
    C = rng.normal(size=(16, 32))
    cents = _cents(spark, rng.permutation(16) + 100, C)
    _assert_same_routing(_queries(spark, C, "double"), cents)


def test_routing_matches_sql_with_duplicate_centroid_vectors(spark):
    """Duplicate vectors under distinct ids score identically; the rank
    order between them is the centroid_id order alone."""
    rng = np.random.default_rng(14)
    C = rng.normal(size=(8, 32))
    C = np.concatenate([C, C[::-1]])  # every vector twice
    ids = rng.permutation(16) * 7
    cents = _cents(spark, ids, C)
    qs = _queries(spark, np.concatenate([C[:4], rng.normal(size=(12, 32))]),
                  "double")
    _assert_same_routing(qs, cents)
    got = similarity._probe_routing(qs, cents, 2)
    for qi in range(4):  # a query equal to a duplicated vector
        twins = sorted(int(ids[i]) for i in (qi, 15 - qi))
        assert got[qi] == twins


def test_routing_matches_sql_on_trained_fixture_centroids(spark, embeddings):
    """Trained centroids over the fixture corpus, routed for the
    corpus's own last rows."""
    cents = similarity.cached_trained_centroids(embeddings)
    qs = embeddings.where(F.col("vec_id") >= 450).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    _assert_same_routing(qs, cents, nprobes=(1, 4, 16))


def test_labeled_routing_matches_sql(spark):
    rng = np.random.default_rng(15)
    n, d, kc = 600, 16, 4
    centers = rng.normal(0, 1, (kc, d))
    lab = rng.integers(0, kc, n)
    X = centers[lab] + rng.normal(0, 1.0, (n, d))
    base = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                      "embedding": [x.astype(np.float32) for x in X],
                      "label": lab.astype(np.int32)}),
        "vec_id bigint, embedding array<float>, label int",
    )
    bvec = base.select("vec_id", "embedding")
    labels = base.select("vec_id", "label")
    hist = similarity.label_cell_hist(bvec, labels)
    cents = similarity.cached_trained_centroids(bvec)
    nq = 30
    qs = _queries(spark, rng.normal(size=(nq, d)).astype(np.float32))
    # every label, plus one absent from the histogram, one null label
    # and one query with no label row at all
    qlab = [int(i % kc) for i in range(nq - 3)] + [99, None]
    query_labels = spark.createDataFrame(
        list(enumerate(qlab)), "query_id bigint, qlabel int"
    )
    labeled = qs.join(query_labels, "query_id")

    def route(nprobe, r_target):
        return similarity._probe_routing(
            qs, cents, nprobe, hist=hist, r_target=r_target,
            labeled=labeled, qlabel_col="qlabel",
        )

    # budgets equal to the label rows of a query's first-ranked cell sit
    # exactly on the cumulative-count cut
    cnt = {(r["label"], r["centroid_id"]): r["cnt"] for r in hist.collect()}
    first = route(1, 0)
    edges = sorted({cnt[(qlab[q], first[q][0])] for q in (0, 1, 2, 3)})
    for nprobe in (1, 3, 8):
        for r_target in (0, 40, 160, 10_000, *edges):
            want = _spark_routing(similarity._ivf_probes_labeled(
                qs, cents, query_labels, hist, nprobe, r_target))
            got = route(nprobe, r_target)
            assert set(got) == set(want), (nprobe, r_target)
            for q in want:
                assert sorted(got[q]) == sorted(want[q]), (nprobe, r_target, q)
    assert not {nq - 3, nq - 2, nq - 1} & set(got)


def test_zero_magnitude_query_raises(spark, embeddings):
    """A zero query vector has no cosine to any cell. The SQL routing
    raises DIVIDE_BY_ZERO under ANSI mode; the driver router raises too
    instead of ranking NaN distances."""
    base = embeddings.select("vec_id", "embedding")
    cents = similarity.cached_trained_centroids(base)
    d = len(embeddings.first()["embedding"])
    vecs = np.ones((3, d), dtype=np.float32)
    vecs[1] = 0.0
    qs = _queries(spark, vecs)
    if spark.conf.get("spark.sql.ansi.enabled") == "true":
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            similarity._ivf_probes(qs, cents, similarity.N_PROBE).collect()
    with pytest.raises(ZeroDivisionError, match="DIVIDE_BY_ZERO.*query 1 "):
        similarity.knn_ivfpq(base, qs, 10)


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` under its own job group; return how many Spark jobs it
    fired. A one-job sentinel (an RDD count) closes the group: listener
    events arrive in order, so once the sentinel is visible every
    earlier job is too."""
    import time

    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    for _ in range(200):
        if sc.statusTracker().getJobIdsForGroup(group):
            break
        time.sleep(0.05)
    return len(sc.statusTracker().getJobIdsForGroup(group)) - 1


def test_bounded_construction_fires_no_job(spark, embeddings):
    """Constructing an IVF-PQ or exact search over prebuilt artifacts for
    a fresh driver-local 64-query batch runs no Spark job: the batch
    count, the batch itself and the probe routing all come from
    driver-side data."""
    base = embeddings.select("vec_id", "embedding")
    cents = similarity.cached_trained_centroids(base)
    books = similarity.trained_pq_codebooks(base)
    cc = similarity.cached_codes_cells(base)
    rng = np.random.default_rng(16)
    d = len(embeddings.first()["embedding"])

    def batch(i):
        return _queries(spark, rng.normal(size=(64, d)).astype(np.float32),
                        id0=10_000 * (i + 1))

    def construct(qs):
        similarity.knn_ivfpq(base, qs, 10, codes_cells=cc, cents=cents,
                             books=books)
        knn.knn_exact_batch(base, qs, 10)

    construct(batch(0))  # builds the per-index artifacts (centroid matrix, base count)
    fresh = batch(1)
    assert fresh.isLocal()
    assert _jobs_in_group(spark, "bounded-construct", lambda: construct(fresh)) == 0
    assert _jobs_in_group(spark, "no-op", lambda: None) == 0
    counted = _jobs_in_group(
        spark, "rdd-count", lambda: spark.sparkContext.parallelize([1], 1).count()
    )
    assert counted == 1, "the job gate does not see jobs"


def test_local_batch_count_needs_no_job(spark):
    qs = _queries(spark, np.ones((37, 4), dtype=np.float32))
    assert qs.isLocal()
    assert _jobs_in_group(spark, "local-count", lambda: knn.query_batch_count(qs)) == 0
    assert knn.query_batch_count(qs) == 37
