"""The expression library's SQL-text functions (functions/vector.py,
operators/similarity.py, operators/dedup.py, knn.with_distance) checked
against references that share no code with them: pure-Python j-order
double folds over collected rows for the vector and quantizer expressions,
``hashlib.md5`` for the shingle, minhash and SimHash expressions.

Each function renders SQL text that parses JVM-side in one py4j call and
is memoized per session (instead of ~40-60 py4j round-trips for the same
tree built from Python lambdas). Every serving key's oracle hash rides on
these expressions, so a drifted rendering would fail loudly there too —
these tests fail FIRST and name the function.
"""

import hashlib
import math
import struct

import pytest
from pyspark.sql import functions as F

from toy_vector_db_spark.functions import vector as V
from toy_vector_db_spark.operators import similarity as S


def _bits(x):
    if isinstance(x, float):
        return struct.pack("<d", x)
    if isinstance(x, list):
        return tuple(_bits(v) for v in x)
    return x


def _assert_rows_bit_equal(rows, want_by_col, name):
    """Compare each collected row's columns with the reference values a
    ``want_by_col(row)`` dict gives, bit for bit."""
    assert rows, f"{name}: empty comparison frame"
    for r in rows:
        for col, want in want_by_col(r).items():
            assert _bits(r[col]) == _bits(want), (
                f"{name}/{col}: got {r[col]!r} vs reference {want!r}"
            )


# -- pure-Python references ----------------------------------------------

def _py_fold(xs, ys, term):
    """``aggregate(zip_with(xs, ys, term), 0.0D, acc + coalesce(x, 0.0D))``:
    zip_with null-pads the shorter side and the pad adds 0.0, so the sum
    runs over the common prefix, in j order, from 0.0."""
    acc = 0.0
    for x, y in zip(xs, ys):
        acc += term(x, y)
    return acc


def _py_dot(a, b):
    return _py_fold(a, b, lambda x, y: x * y)


def _py_sq_dist(a, b):
    return _py_fold(a, b, lambda x, y: (x - y) * (x - y))


def _py_cos_sim(a, b):
    return max(
        0.0, _py_dot(a, b) / (math.sqrt(_py_dot(a, a)) * math.sqrt(_py_dot(b, b)))
    )


def _py_normalize(v):
    mag = math.sqrt(_py_dot(v, v))
    return [x / mag for x in v]


def _py_md5_48(s):
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:12], 16)


def _py_distinct(xs):
    return list(dict.fromkeys(xs))


def _py_word_shingles(text, k=3):
    toks = text.split(" ")
    if len(toks) < k:
        return []
    return _py_distinct(
        " ".join(toks[i: i + k]) for i in range(len(toks) - k + 1)
    )


def _py_char_ngrams(text, n):
    if len(text) < n:
        return []
    return _py_distinct(text[i: i + n] for i in range(len(text) - n + 1))


def _py_simhash(text):
    hs = [_py_md5_48(t) for t in text.split(" ")]
    sig = 0
    for b in range(32):
        if 2 * sum((h >> b) & 1 for h in hs) > len(hs):
            sig |= 1 << b
    return sig


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_vector_builders_str_vs_column(emb):
    """dot, magnitude, cosine similarity/distance, euclidean distance and
    the engine distance over adjacent fixture rows (qualified names) vs
    pure-Python j-order folds."""
    pairs = emb.alias("a").join(
        emb.alias("b"), F.expr("a.vec_id + 1 = b.vec_id")
    )
    rows = pairs.select(
        F.col("a.embedding").alias("va"),
        F.col("b.embedding").alias("vb"),
        V.dot("a.embedding", "b.embedding").alias("dot"),
        V.magnitude("a.embedding").alias("magnitude"),
        V.cosine_similarity("a.embedding", "b.embedding").alias("cossim"),
        V.cosine_distance("a.embedding", "b.embedding").alias("cosdist"),
        V.euclidean_distance("a.embedding", "b.embedding").alias("euc"),
        V.distance("a.embedding", "b.embedding").alias("distance"),
    ).collect()
    _assert_rows_bit_equal(rows, lambda r: {
        "dot": _py_dot(r["va"], r["vb"]),
        "magnitude": math.sqrt(_py_dot(r["va"], r["va"])),
        "cossim": _py_cos_sim(r["va"], r["vb"]),
        "cosdist": 1.0 - _py_cos_sim(r["va"], r["vb"]),
        "euc": math.sqrt(_py_sq_dist(r["va"], r["vb"])),
        "distance": 1.0 - _py_cos_sim(r["va"], r["vb"]),
    }, "vector functions")


def test_with_distance_and_lsh_bucket_match_python_folds(emb):
    """knn.with_distance (literal query, driver-side query magnitude) and
    the LSH hyperplane bucket vs pure-Python folds."""
    from toy_vector_db_spark.operators import knn as K

    q = [float(x) for x in emb.where("vec_id = 7").first()["embedding"]]
    q_mag = math.sqrt(_py_dot(q, q))
    rows = K.with_distance(emb, q).select("embedding", "dist").collect()
    _assert_rows_bit_equal(rows, lambda r: {"dist": 1.0 - max(
        0.0,
        _py_dot(r["embedding"], q)
        / (math.sqrt(_py_dot(r["embedding"], r["embedding"])) * q_mag),
    )}, "with_distance")

    n_planes = 5
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    got = {
        r["vec_id"]: r["bucket"]
        for r in S.lsh_hyperplane_buckets(emb, n_planes).collect()
    }
    want = {
        i: sum(2 ** p for p in range(n_planes) if _py_dot(v, vecs[p]) > 0)
        for i, v in vecs.items()
    }
    assert got == want


def test_expr_cache_hits_and_is_registered(emb):
    from toy_vector_db_spark import caches

    caches.evict("expr")
    snap = caches.snapshot()
    c1 = V.magnitude("embedding")
    assert [k[0] for _, k in caches.added_since(snap)] == ["expr"], (
        "the parsed expression must live in the session store"
    )
    c2 = V.magnitude("embedding")
    assert c1 is c2, "memo must return the same Column object on a hit"
    # a dropped entry (bench eviction) just re-parses
    caches.evict("expr")
    c3 = V.magnitude("embedding")
    assert c3 is not c1
    rows = emb.select(c1.alias("a"), c3.alias("b")).collect()
    assert all(_bits(r["a"]) == _bits(r["b"]) for r in rows)


def test_normalize_str_vs_column(emb):
    """_normalize over the double-cast embedding vs a pure-Python
    magnitude fold and elementwise divide."""
    rows = emb.select(
        "embedding",
        S._normalize(S._as_double_sql("embedding")).alias("nv"),
    ).collect()
    _assert_rows_bit_equal(
        rows, lambda r: {"nv": _py_normalize(r["embedding"])}, "_normalize"
    )


def test_bq_pack_str_vs_column(emb):
    """Both sign-bit halves vs a pure-Python acc·2 + [x > 0] fold."""
    for start in (1, S.BQ_HALF + 1):
        rows = emb.select(
            "embedding", S._bq_pack("embedding", start).alias("bq")
        ).collect()

        def want(r, start=start):
            acc = 0
            for x in r["embedding"][start - 1: start - 1 + S.BQ_HALF]:
                acc = acc * 2 + (1 if x > 0 else 0)
            return {"bq": acc}

        _assert_rows_bit_equal(rows, want, f"_bq_pack(start={start})")


def test_sq_deq_and_sq_dist_str_vs_column(emb):
    """SQ dequantization (bin midpoints) and the squared-distance fold vs
    pure-Python arithmetic in the same op order."""
    bounds = S.sq_bounds(emb)
    staged = (
        S.sq_code_array(emb, bounds)
        .crossJoin(F.broadcast(bounds))
    )
    levels = float(S.SQ_LEVELS)
    rows = staged.select(
        "codes", "mins", "maxs",
        S._sq_deq("codes", "mins", "maxs").alias("deq"),
    ).collect()
    _assert_rows_bit_equal(rows, lambda r: {"deq": [
        mn + (float(c) + 0.5) * (mx - mn) / levels
        for c, mn, mx in zip(r["codes"], r["mins"], r["maxs"])
    ]}, "_sq_deq")
    two = staged.select(
        S._sq_deq("codes", "mins", "maxs").alias("deq")
    ).withColumn("qnv", S._normalize(S._as_double_sql("deq")))
    rows = two.select(
        "deq", "qnv", S._sq_dist("deq", "qnv").alias("ad2")
    ).collect()
    _assert_rows_bit_equal(
        rows, lambda r: {"ad2": _py_sq_dist(r["deq"], r["qnv"])}, "_sq_dist"
    )


def test_bq2_recon_str_vs_column(emb):
    """BQ2 reconstruction (sign · level · mx) vs pure-Python arithmetic."""
    bb = S.bq2_bounds(emb)
    staged = S.bq2_code_array(emb, bb).crossJoin(F.broadcast(bb))
    rows = staged.select(
        "codes", "mx", S._bq2_recon("codes", "mx").alias("recon")
    ).collect()
    hi, lo = float(S.BQ2_HI), float(S.BQ2_LO)
    _assert_rows_bit_equal(rows, lambda r: {"recon": [
        (1.0 if c >= 2 else -1.0) * ((hi if c % 2 == 1 else lo) * m)
        for c, m in zip(r["codes"], r["mx"])
    ]}, "_bq2_recon")


def test_dedup_builders_str_vs_column(spark, sf_dir):
    """Word shingles, char n-grams, shingle hashes and the 16 minhash
    values vs a pure-Python shingler and hashlib.md5."""
    from toy_vector_db_spark.operators import dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = docs.select(
        "text",
        D.word_shingles("text").alias("ws"),
        D.word_shingles("text", 5).alias("ws5"),
        D.char_ngrams("text", 4).alias("cn"),
        D.shingle_hashes_of_text("text").alias("hs"),
    ).collect()

    def want(r):
        hs = [_py_md5_48(s) % D.P31 for s in _py_word_shingles(r["text"])]
        return {
            "ws": _py_word_shingles(r["text"]),
            "ws5": _py_word_shingles(r["text"], 5),
            "cn": _py_char_ngrams(r["text"], 4),
            "hs": hs,
        }

    _assert_rows_bit_equal(rows, want, "shingle functions")
    sig = docs.select(
        D.shingle_hashes_of_text("text").alias("hs")
    ).select("hs", *D.minhash_from_hashes("hs")).collect()
    _assert_rows_bit_equal(sig, lambda r: {
        f"m{i}": min(((a * h + b) % D.P31 for h in r["hs"]), default=None)
        for i, (a, b) in enumerate(zip(D.PERM_A, D.PERM_B))
    }, "minhash_from_hashes")


def test_lit_vec_bit_identical(spark, emb):
    from toy_vector_db_spark.operators import knn as K

    vec = [r["embedding"] for r in emb.limit(1).collect()][0]
    one = spark.range(1)
    rows = one.select(
        F.expr(K._lit_vec(vec)).alias("s"),
        F.lit([float(x) for x in vec]).cast("array<double>").alias("c"),
    ).collect()
    assert _bits([float(x) for x in rows[0]["s"]]) == _bits(
        [float(x) for x in rows[0]["c"]]
    )
    # tricky doubles round-trip exactly through repr + SQL parse;
    # non-finite ones through a string cast
    tricky = [0.1, 1e-300, 1.7976931348623157e308, -0.0, 2**-1074, 1/3,
              math.nan, math.inf, -math.inf]
    rows = one.select(
        F.expr(K._lit_vec(tricky)).alias("s"),
        F.lit(tricky).cast("array<double>").alias("c"),
    ).collect()
    assert _bits([float(x) for x in rows[0]["s"]]) == _bits(
        [float(x) for x in rows[0]["c"]]
    )


def test_lit_vec_keeps_the_sign_of_zero(spark):
    """ADVICE r15 item 1: 0.0 == -0.0 and both hash alike, so the literal
    memo keyed on the value tuple served an all-0.0 vector's literal for
    an all--0.0 query. _lit_vec is not memoized: each call renders its
    own vector."""
    from toy_vector_db_spark.operators import knn as K

    pos = K._lit_vec([0.0, 0.0, 0.0])
    neg = K._lit_vec([-0.0, -0.0, -0.0])
    assert "-0.0D" not in pos
    assert neg.count("-0.0D") == 3, neg
    row = spark.range(1).select(F.expr(neg).alias("v")).first()
    assert _bits([float(x) for x in row["v"]]) == _bits([-0.0] * 3)


def test_lit_vec_memo_key_is_collision_proof(spark):
    """Advice r14 (medium): the round-14 memo keyed on
    hash(tuple(vals)) — CPython guarantees hash(-1.0) == hash(-2.0), so
    two query vectors differing only in that coordinate collided and the
    second silently reused the FIRST vector's literal. The key is now
    the value tuple itself; this pins that two hash-colliding vectors
    get their own (correct) literals."""
    from toy_vector_db_spark.operators import knn as K

    v1 = [0.5, -1.0, 2.25]
    v2 = [0.5, -2.0, 2.25]
    assert hash(tuple(v1)) == hash(tuple(v2))  # the collision is real
    one = spark.range(1)
    rows = one.select(
        F.expr(K._lit_vec(v1)).alias("a"), F.expr(K._lit_vec(v2)).alias("b")
    ).collect()
    assert _bits([float(x) for x in rows[0]["a"]]) == _bits(v1)
    assert _bits([float(x) for x in rows[0]["b"]]) == _bits(v2)


def test_pq_lut_cache_key_is_content_keyed(spark, emb):
    """Advice r14 (low): the PQ LUT memo fingerprinted codebooks with
    Python's salted 64-bit hash(bytes) — collisions improbable, not
    impossible. Now shape + sha256 digest: two different codebook sets
    must produce different LUTs (and the same set must hit the memo)."""
    import numpy as np

    qs = emb.limit(4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    rng = np.random.default_rng(7)
    books1 = [rng.normal(size=(4, 8)).tolist() for _ in range(2)]
    books2 = [rng.normal(size=(4, 8)).tolist() for _ in range(2)]
    qids1, luts1 = S._collected_pq_luts(qs, books1, "query_id", "query_vec")
    qids1b, luts1b = S._collected_pq_luts(qs, books1, "query_id", "query_vec")
    assert luts1 is luts1b  # memo hit for identical content
    _, luts2 = S._collected_pq_luts(qs, books2, "query_id", "query_vec")
    assert not np.allclose(luts1[0], luts2[0])  # no cross-codebook hit


def test_non_identifier_names_bind_like_f_col(spark):
    """Advice r14 (low): a column name F.col accepts but raw SQL needs
    backticks for (space, hyphen, reserved word) must still work through
    the expression functions. _sql_ident splits the name into parts the
    way F.col does and quotes each part that is not a plain identifier,
    so a qualified "a.my vec" binds to column "my vec" of alias a."""
    from toy_vector_db_spark.operators import dedup as D

    text = "the quick brown fox jumps"
    df = spark.createDataFrame(
        [(1, [3.0, 4.0], [0.0, 5.0], text)],
        "id long, `my vec` array<double>, `other vec` array<double>, "
        "`my text` string",
    ).alias("a")
    rows = df.select(
        V.magnitude("my vec").alias("m"),
        V.magnitude("`my vec`").alias("m_quoted"),
        V.dot("my vec", "my vec").alias("d"),
        V.dot("a.my vec", "a.other vec").alias("d_joined"),
        V.euclidean_distance("my vec", "other vec").alias("euc"),
        V.cosine_distance("my vec", "other vec").alias("cosd"),
        S._normalize(S._as_double_sql("my vec")).alias("nv"),
        S._bq_pack("my vec", 1).alias("bq"),
        S._bq_pack("a.my vec", 1).alias("bq_joined"),
        F.size(D.word_shingles("my text", 3)).alias("ws"),
        F.size(D.char_ngrams("my text", 4)).alias("cn"),
    ).collect()
    r = rows[0]
    assert r["m"] == r["m_quoted"] == 5.0
    assert r["d"] == 25.0
    assert r["d_joined"] == 20.0
    assert r["euc"] == math.sqrt(10.0)
    assert r["cosd"] == 1.0 - 20.0 / 25.0
    assert [round(x, 6) for x in r["nv"]] == [0.6, 0.8]
    assert r["bq"] == r["bq_joined"] == 3
    assert r["ws"] == 3
    assert r["cn"] == len(_py_char_ngrams(text, 4))
    for bad in ("a..b", "a.", "`a`b", "`a"):
        with pytest.raises(ValueError, match="malformed column name"):
            V.magnitude(bad)


def test_simhash_sql_vs_column(spark, sf_dir):
    """The SimHash SWAR fold vs a hashlib per-bit majority vote,
    including the 16-bit fallback branch (docs past 255 tokens) and the
    injected near-dup corpus the dedup keys actually hash."""
    from toy_vector_db_spark.operators import dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = D.with_injected_dups(docs)
    # a >255-token doc engages the 16-bit spacing branch; one token
    # repeated 300 times pushes its set bits' counts past what a byte
    # counter holds, so byte spacing on this doc would carry into the
    # neighbouring counters
    long_text = " ".join(["w0"] * 300 + [f"w{i % 97}" for i in range(100)])
    long_doc = spark.createDataFrame(
        [(999_999_999, long_text)], "doc_id long, text string",
    )
    corpus = corpus.unionByName(long_doc)
    texts = {r["doc_id"]: r["text"] for r in corpus.collect()}
    got = {
        r["doc_id"]: r["simhash"]
        for r in D.simhash_signatures(corpus).collect()
    }
    assert 999_999_999 in got
    assert got == {i: _py_simhash(t) for i, t in texts.items()}
