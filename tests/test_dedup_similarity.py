"""Cross-checks the oracle can't express: LSH candidate recall against
the exact operators (the reference never compared its redundant
implementations — SURVEY.md §5; we hold approximate paths to their exact
twins)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators import (  # noqa: E402
    dedup,
    similarity,
)
from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.session import (  # noqa: E402
    unpin,
)


def test_minhash_pairs_subset_of_exact(spark, sf_dir):
    """Every MinHash-verified pair IS an exact-Jaccard pair (verification
    step guarantees precision=1; recall is the S-curve's business)."""
    exact = {
        (r["a_id"], r["b_id"]) for r in dedup.q_dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    mh = {
        (r["a_id"], r["b_id"]) for r in dedup.q_dedup_minhash_lsh(spark, sf_dir).collect()
    }
    assert mh <= exact
    if exact:  # recall floor: banding 4x4 at j>=0.95 collides w.p. ~1-(1-0.95^4)^4 ≈ 0.97
        assert len(mh) / len(exact) > 0.5


def test_simhash_runs_and_pairs_sane(spark, sf_dir):
    pairs = dedup.q_dedup_simhash(spark, sf_dir).collect()
    for r in pairs:
        assert r["a_id"] < r["b_id"]
        assert 0 <= r["hamming"] <= 4


def test_ivf_topk_hits_are_genuine(spark, sf_dir):
    """IVF cells restrict the candidate set; every returned neighbor must
    carry its true brute-force cosine, and rank-1 recall should be decent
    (the top neighbor usually shares the query's cell)."""
    brute = {
        (r["q_id"], r["c_id"]): r["cosine"]
        for r in similarity.q_similarity_topk_cosine(spark, sf_dir).collect()
    }
    ivf = similarity.q_similarity_ivf_topk(spark, sf_dir).collect()
    assert len(ivf) > 0
    for r in ivf:
        exact = brute.get((r["q_id"], r["c_id"]))
        if exact is not None:
            assert abs(exact - r["cosine"]) < 1e-12


def test_lsh_topk_subset_of_brute_force(spark, sf_dir):
    """LSH top-k hits are genuine neighbors: every (q, c) pair returned
    by the LSH path appears in the exact top-50 of the brute-force path
    with the identical cosine."""
    from pyspark.sql import functions as F  # noqa: F401

    brute = {
        (r["q_id"], r["c_id"]): r["cosine"]
        for r in similarity.q_similarity_topk_cosine(spark, sf_dir).collect()
    }
    lsh = similarity.q_similarity_lsh_topk(spark, sf_dir).collect()
    assert len(lsh) > 0
    for r in lsh:
        exact_cos = brute.get((r["q_id"], r["c_id"]))
        if exact_cos is not None:
            assert abs(exact_cos - r["cosine"]) < 1e-12


def test_lsh_near_dup_full_corpus_recall(spark):
    """Banded LSH near-dup pairs on the FULL corpus: every returned pair
    must carry its exact cosine (>= threshold), and recall vs the exact
    all-pairs set should be high (8 bands x 2 bits => ~0.97 expected at
    cosine 0.30). Run at sf0.001 (500 vectors -> 125k exact pairs)."""
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    dv = lambda c: F.transform(c, lambda x: x.cast("double"))  # noqa: E731
    a = emb.select(F.col("vec_id").alias("a_id"), dv(F.col("embedding")).alias("a_vec"))
    b = emb.select(F.col("vec_id").alias("b_id"), dv(F.col("embedding")).alias("b_vec"))
    exact = {
        (r["a_id"], r["b_id"]): r["cosine"]
        for r in (
            a.join(b, F.col("a_id") < F.col("b_id"))
            .withColumn("cosine", similarity._cosine(F.col("a_vec"), F.col("b_vec")))
            .filter(F.col("cosine") >= similarity.COSINE_DUP_THRESHOLD)
            .collect()
        )
    }
    got = {
        (r["a_id"], r["b_id"]): r["cosine"]
        for r in similarity.q_similarity_lsh_near_dup(spark, sf).collect()
    }
    assert set(got) <= set(exact)
    for pair, cos in got.items():
        assert abs(cos - exact[pair]) < 1e-12
    if exact:
        assert len(got) / len(exact) >= 0.7


def test_minhash_drop_ids_subset_and_recall(spark, sf_dir):
    """The linear representative-based drop set is (a) precise: every
    dropped doc has a verified smaller-id near-dup in the all-pairs set,
    and (b) near-complete: recall vs the all-pairs drop set stays high
    (representatives are themselves cluster members)."""
    toks = dedup.pin_doc_tokens(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    pairs = dedup.minhash_near_dup_pairs(toks)
    from pyspark.sql import functions as F

    all_pairs_drop = {
        r["doc_id"]
        for r in pairs.select(F.col("b_id").alias("doc_id")).distinct().collect()
    }
    lin_drop = {
        r["doc_id"]
        for r in dedup.minhash_near_dup_drop_ids(toks).filter("dropped").collect()
    }
    assert lin_drop <= all_pairs_drop
    if all_pairs_drop:
        assert len(lin_drop) / len(all_pairs_drop) >= 0.9


def _rep_join_candidates(bands):
    """(a_id, b_id, sz_a, sz_b, a_sig, b_sig) of a plain reps ⋈ bands
    join on (band, bucket): each bucket's REPS_PER_BUCKET smallest ids
    against every row of that bucket."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rank = F.row_number().over(Window.partitionBy("band", "bucket").orderBy("doc_id"))
    reps = bands.withColumn("rk", rank).filter(F.col("rk") <= dedup.REPS_PER_BUCKET)
    a = reps.selectExpr("doc_id AS a_id", "sz AS sz_a", "sig AS a_sig", "band", "bucket")
    b = bands.selectExpr("doc_id AS b_id", "sz AS sz_b", "sig AS b_sig", "band", "bucket")
    return a.join(b, ["band", "bucket"]).select("a_id", "b_id", "sz_a", "sz_b", "a_sig", "b_sig")


def _assert_rep_candidates_match_join(bands):
    """The candidate rows (``keep`` null) are the rows of reps ⋈ bands,
    and every band-0 row adds exactly one self row: ``a_*`` null and
    ``keep`` holding the doc's own id."""
    from collections import Counter

    cols = ["a_id", "b_id", "sz_a", "sz_b"]
    pairs = dedup._bucket_rep_pairs(bands)
    got = Counter(map(tuple, pairs.filter("keep IS NULL").select(*cols).collect()))
    want = Counter(map(tuple, _rep_join_candidates(bands).select(*cols).collect()))
    assert got == want
    own = pairs.filter("keep IS NOT NULL").selectExpr(
        "b_id", "keep.doc_id", "a_id", "a_sig", "sz_a"
    )
    band0 = bands.filter("band = 0").select("doc_id").collect()
    assert Counter(map(tuple, own.collect())) == Counter(
        (r["doc_id"], r["doc_id"], None, None, None) for r in band0
    )


def test_bucket_rep_list_equals_rep_join_sf(spark, sf_dir):
    """The drop-ids path pairs rows with their bucket's representatives
    through one per-(band, bucket) list, not a join: on the fixture
    documents its candidates are exactly those of reps ⋈ bands, pair
    for pair and as often (a pair colliding in two bands counts twice)."""
    toks = dedup.pin_doc_tokens(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    _assert_rep_candidates_match_join(dedup._minhash_bands(toks, carry_sig=True))


def test_bucket_rep_list_equals_rep_join_giant_bucket(spark):
    """Same equivalence where one bucket holds more rows than
    REPS_PER_BUCKET: 40 identical token sets share every band's bucket,
    so only the 16 smallest of their ids are representatives."""
    n_dup = dedup.REPS_PER_BUCKET + 24
    rows = [(1000 - 7 * i, ["w1", "w2", "w3", "w4", "w5"]) for i in range(n_dup)]
    rows += [(i, [f"u{i}", f"v{i}", "w1"]) for i in range(30)]
    toks = spark.createDataFrame(rows, "doc_id bigint, toks array<string>").repartition(3)
    bands = dedup._minhash_bands(toks, carry_sig=True)
    biggest = bands.groupBy("band", "bucket").count().agg({"count": "max"}).first()[0]
    assert biggest == n_dup
    _assert_rep_candidates_match_join(bands)


def test_bucket_rep_list_skips_exact_copies(spark):
    """With an ``fp`` column, only the first row per fp (lowest doc_id)
    is a representative or pairs with one; every band-0 row still adds
    its self row, with ``dup`` set on all but the first rows. Here 40
    rows share one token set, and so every bucket, but alternate between
    two fp values by id, so no row follows a row of its own fp in
    doc_id order: the candidates equal reps ⋈ bands over the first rows
    alone."""
    from collections import Counter

    n_dup = dedup.REPS_PER_BUCKET + 24
    rows = [(1000 - 7 * i, ["w1", "w2", "w3", "w4", "w5"], "AB"[i % 2]) for i in range(n_dup)]
    rows += [(i, [f"u{i}", f"v{i}", "w1"], f"u{i}") for i in range(30)]
    toks = spark.createDataFrame(
        rows, "doc_id bigint, toks array<string>, fp string"
    ).repartition(3)
    first = {min(d for d, _, f in rows if f == fp) for fp in {f for *_, f in rows}}
    bands = dedup._minhash_bands(toks, carry_sig=True)
    pairs = dedup._bucket_rep_pairs(bands)
    cols = ["a_id", "b_id", "sz_a", "sz_b"]
    got = Counter(map(tuple, pairs.filter("keep IS NULL").select(*cols).collect()))
    firsts = bands.filter(bands.doc_id.isin(sorted(first)))
    want = Counter(map(tuple, _rep_join_candidates(firsts).select(*cols).collect()))
    assert got == want
    own = pairs.filter("keep IS NOT NULL").selectExpr("b_id", "keep.doc_id", "dup")
    assert Counter(map(tuple, own.collect())) == Counter(
        (d, d, d not in first) for d, *_ in rows
    )


def _anti_join_survivors(toks):
    """The survivors of the old two-step near-dedup: the drop set (top
    VERIFY_TOP_M distinct candidates per b_id by MinHash estimate, any
    one verified at exact Jaccard) left-anti-joined onto the input."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    est = F.size(
        F.filter(F.zip_with("a_sig", "b_sig", lambda x, y: x == y), lambda m: m)
    ) / dedup.MINHASH_K
    cand = (
        _rep_join_candidates(dedup._minhash_bands(toks, carry_sig=True))
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(
            F.least("sz_a", "sz_b") / F.greatest("sz_a", "sz_b")
            >= dedup.JACCARD_THRESHOLD
        )
        .select("a_id", "b_id", est.alias("est"), F.abs(F.col("sz_a") - F.col("sz_b")).alias("sz_diff"))
        .dropDuplicates(["a_id", "b_id"])
    )
    w = Window.partitionBy("b_id").orderBy(F.col("est").desc(), "sz_diff", "a_id")
    best = cand.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= dedup.VERIFY_TOP_M
    )
    ta = toks.selectExpr("doc_id AS a_id", "toks AS toks_a")
    tb = toks.selectExpr("doc_id AS b_id", "toks AS toks_b")
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - inter
    drop = (
        best.join(ta, "a_id").join(tb, "b_id")
        .filter(inter / union >= dedup.JACCARD_THRESHOLD)
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
    )
    return toks.drop("toks").join(drop, "doc_id", "left_anti")


def _assert_survivors_equal_anti_join(toks):
    from collections import Counter

    fates = dedup.minhash_near_dup_drop_ids(toks)
    assert fates.columns == [c for c in toks.columns if c != "toks"] + ["dropped"]
    assert fates.count() == toks.count()
    kept = fates.filter("NOT dropped").drop("dropped")
    got = Counter(map(tuple, kept.collect()))
    want = Counter(map(tuple, _anti_join_survivors(toks).collect()))
    assert got == want
    return got


def test_drop_flag_survivors_equal_anti_join_sf(spark, sf_dir):
    """minhash_near_dup_drop_ids returns every doc's fate beside its
    carried columns, so the corpus pipeline keeps ``NOT dropped`` where
    it used to left-anti-join the drop set: on the pipeline's own pin
    over the fixture, the survivors are the same rows, as often. Empty
    and one-row frames keep every row."""
    from pyspark.sql import functions as F

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.pipelines import (
        quality_filter,
    )

    docs = quality_filter(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    pin = unique_doc_tokens(
        docs,
        "lang",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("double").alias("f_tokens"),
    ).localCheckpoint()
    try:
        got = _assert_survivors_equal_anti_join(pin)
        assert 0 < sum(got.values()) < pin.count()
    finally:
        unpin(pin)
    schema = "doc_id bigint, lang string, toks array<string>"
    for rows in ([], [(1, "en", ["a", "b"])]):
        toks = spark.createDataFrame(rows, schema)
        assert sum(_assert_survivors_equal_anti_join(toks).values()) == len(rows)


def test_drop_flag_survivors_equal_anti_join_giant_bucket(spark):
    """Same equivalence where one bucket holds 40 rows, more than
    REPS_PER_BUCKET: the 39 copies above the smallest id drop."""
    n_dup = dedup.REPS_PER_BUCKET + 24
    rows = [(1000 - 7 * i, f"d{i}", ["w1", "w2", "w3", "w4", "w5"]) for i in range(n_dup)]
    rows += [(i, f"u{i}", [f"u{i}", f"v{i}", "w1"]) for i in range(30)]
    toks = spark.createDataFrame(
        rows, "doc_id bigint, tag string, toks array<string>"
    ).repartition(3)
    got = _assert_survivors_equal_anti_join(toks)
    assert sum(got.values()) == 30 + 1


def test_drop_flag_top_m_counts_distinct_pairs(spark):
    """A pair that shares all four bands reaches the b_id exchange four
    times, and its copies take one of the VERIFY_TOP_M places, not four.
    Docs 1-4 are 30 shared tokens plus one token that is never a slot's
    minimum, so all five signatures are equal (estimate 1.0, same size,
    ranked by a_id); only doc 4 verifies against doc 5 (Jaccard 1 vs
    30/32), and it is the 4th distinct candidate, behind 12 rows."""
    shared = [f"s{i}" for i in range(30)]
    rows = [(i + 1, shared + [x]) for i, x in enumerate(["x1", "x6", "x10", "x11", "x11"])]
    toks = spark.createDataFrame(rows, "doc_id bigint, toks array<string>").repartition(2)
    sigs = {tuple(r.sig) for r in toks.selectExpr(dedup._SIG).collect()}
    assert len(sigs) == 1
    got = _assert_survivors_equal_anti_join(toks)
    assert sorted(got) == [(1,), (2,), (3,), (4,)]


def test_drop_flag_survivors_equal_anti_join_repeated_id(spark):
    """A doc_id that appears more than once: the anti-join keeps or
    drops every row of that id together (any copy verifying against a
    smaller id drops them all), and the drop flag does the same, row
    for row. Also a null id, which is never dropped."""
    base = [f"w{i}" for i in range(40)]

    def swap(i, tok):
        return base[:i] + [tok] + base[i + 1:]

    rows = [
        (1, "a", base),
        (2, "b", swap(0, "z2")),  # j(1, 2) = 39/41
        (2, "b2", swap(0, "z2")),
        (3, "c", [f"u{i}" for i in range(40)]),
        (3, "c2", swap(1, "z3")),  # only this copy is a near-dup of 1
        (4, "d", [f"v{i}" for i in range(40)]),
        (5, "e", base),
        (5, "e", base),  # the same row twice
        (None, "n", base),
    ]
    toks = spark.createDataFrame(
        rows, "doc_id bigint, tag string, toks array<string>"
    ).repartition(3)
    got = _assert_survivors_equal_anti_join(toks)
    assert sorted(got, key=repr) == sorted([(1, "a"), (4, "d"), (None, "n")], key=repr)


def test_drop_ids_builds_in_few_py4j_commands(spark, sf_dir):
    """The near-dedup plan is SQL text: building it over a pin of the
    fixture documents sends at most 200 Py4J commands (142 over the
    corpus pipeline's pin). The same plan built
    from Column objects sent 2,718, 0.5-0.9 s of driver time per call
    before any job ran."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.pipelines import (
        dedup_near_remove,
    )
    from tests.test_serve_model import _round_trips

    pin = dedup.pin_doc_tokens(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "lang", "source"
    )
    try:
        dedup_near_remove(pin)  # warm: the first call resolves JVM classes
        _, n = _round_trips(lambda: dedup_near_remove(pin))
        assert n <= 200, n
    finally:
        unpin(pin)


def unique_doc_tokens(docs, *keep):
    """Reference exact dedup, the first step of the two-step form:
    ``(doc_id, *keep, toks)`` for the first document (lowest non-null
    doc_id) of each normalized-text md5 digest, through a window keyed
    on the digest."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    first = Window.partitionBy("fp").orderBy(F.col("doc_id").asc_nulls_last())
    return (
        docs.select("doc_id", *keep, dedup._doc_toks(), F.md5(dedup._norm_text()).alias("fp"))
        .withColumn("fp_rk", F.row_number().over(first))
        .filter((F.col("fp_rk") == 1) & F.col("doc_id").isNotNull())
        .drop("fp_rk", "fp")
    )


def _survivors(pin):
    """The rows the drop flag keeps, as a multiset, and every row's fate
    checked: one output row per pin row, in the pin's column order
    without ``toks`` and ``fp``."""
    from collections import Counter

    fates = dedup.minhash_near_dup_drop_ids(pin)
    assert fates.columns == [c for c in pin.columns if c not in ("toks", "fp")] + ["dropped"]
    assert fates.count() == pin.count()
    return Counter(map(tuple, fates.filter("NOT dropped").drop("dropped").collect()))


def _assert_fused_equals_two_step(docs, *keep):
    """The exact dedup inside the MinHash bucket window (the corpus
    pipeline's path: a map-only pin of the non-null ids with doc_fp)
    keeps the same rows, as often, as the reference two-step form: the
    digest window, then drop-ids over its survivors."""
    two_step = unique_doc_tokens(docs, *keep).localCheckpoint()
    fused = dedup.pin_doc_tokens(docs.filter("doc_id IS NOT NULL"), *keep, dedup.doc_fp())
    try:
        got, want = _survivors(fused), _survivors(two_step)
        assert got == want
        return got
    finally:
        unpin(two_step)
        unpin(fused)


def test_digest_window_survivors_equal_min_semi_join(spark):
    """The exact dedup keeps the first doc per normalized-text digest:
    the survivors of the fused path (no near-dups here), and their token
    sets, equal the min(doc_id)-per-digest aggregate semi-joined back to
    the documents, and so does the reference digest window. Planted
    duplicates differ only in case and outer spaces, with the lowest id
    neither first nor last in input order; a null id never wins over a
    real one, and a digest held only by a null id has no survivor (the
    semi-join matches no null)."""
    from pyspark.sql import functions as F

    rows = [
        (7, "alpha beta gamma"),
        (3, "  Alpha Beta Gamma"),
        (11, "ALPHA BETA GAMMA  "),
        (5, "delta epsilon"),
        (2, "Delta Epsilon "),
        (8, " DELTA epsilon"),
        (None, "zeta eta"),
        (9, "Zeta Eta"),
        (None, "lonely text"),
        (4, "theta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string").repartition(3)
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    reps = docs.groupBy(fp.alias("fp")).agg(F.min("doc_id").alias("doc_id"))
    semi = docs.join(reps.select("doc_id"), "doc_id", "left_semi")

    def rows_of(df):
        return sorted((r["doc_id"], sorted(r["toks"])) for r in df.collect())

    pin = dedup.pin_doc_tokens(docs.filter("doc_id IS NOT NULL"), dedup.doc_fp())
    try:
        kept = dedup.minhash_near_dup_drop_ids(pin).filter("NOT dropped").select("doc_id")
        got = rows_of(pin.join(kept, "doc_id", "left_semi"))
    finally:
        unpin(pin)
    assert got == rows_of(dedup.pin_doc_tokens(semi))
    assert got == rows_of(unique_doc_tokens(docs))
    assert [d for d, _ in got] == [2, 3, 4, 9]


def _pipeline_keep():
    """The corpus pipeline's carried columns (prepare_training_data)."""
    from pyspark.sql import functions as F

    return (
        "lang",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("double").alias("f_tokens"),
        F.length("text").cast("double").alias("f_chars"),
    )


def _corpus(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", f"s{n % 3}") for n, (i, t) in enumerate(rows)],
        "doc_id bigint, text string, lang string, source string",
    ).repartition(3)


def test_fused_dedup_equals_two_step_sf(spark, sf_dir):
    """On the fixture documents behind the pipeline's quality gate, the
    fused exact + near dedup keeps the two-step form's rows."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.pipelines import (
        quality_filter,
    )

    docs = quality_filter(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    got = _assert_fused_equals_two_step(docs, *_pipeline_keep())
    assert 0 < sum(got.values()) < docs.count()


def test_fused_dedup_equals_two_step_planted_family(spark):
    """A 40-copy exact family (more than REPS_PER_BUCKET; the copies
    differ only in case and outer spaces, and the lowest id is neither
    first nor last in input order), near-dups of that family with
    smaller and larger ids, an exact copy of a near-dup, a near-dup of
    a near-dup, null ids, and unrelated docs: the fused path keeps the
    two-step form's rows. Exact copies are never representatives, so
    they cannot crowd the family's near-dups out of the
    REPS_PER_BUCKET."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.pipelines import (
        quality_filter,
    )

    base = [f"w{i}" for i in range(40)]
    text = " ".join(base)
    forms = [text, text.upper(), "  " + text, text.title() + " ", " " + text.upper() + "  "]
    ids = [600 - 7 * i for i in range(40)]
    ids = ids[10:] + ids[:10]  # the lowest id, 327, sits mid-list
    rows = [(d, forms[n % len(forms)]) for n, d in enumerate(ids)]
    swap = " ".join(base[:-1] + ["z1"])  # Jaccard 39/41 with the family
    grow = text + " z2"  # 40/41
    rows += [(900, swap), (200, grow), (950, swap.upper()), (None, text), (None, "q " + text)]
    # 800 is a near-dup of 700 (40/42) but not of the family (39/43): it
    # drops only if 700 stays a representative beside the 40 copies
    rows += [(700, text + " y1"), (800, " ".join(base[1:] + ["y1", "y2"]))]
    rows += [(10 + i, " ".join(f"u{i}_{j}" for j in range(25))) for i in range(30)]
    docs = quality_filter(_corpus(spark, rows))
    got = _assert_fused_equals_two_step(docs, *_pipeline_keep())
    assert 200 in {r[0] for r in got}
    assert not {327, 700, 800, 900, 950} & {r[0] for r in got}


def test_fused_dedup_degenerate_corpora(spark):
    """All documents copies of three texts: three survivors, the lowest
    id of each. No document passing the quality gate: no rows, and no
    error, on either path."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.pipelines import (
        quality_filter,
    )

    texts = [" ".join(f"{p}{i}" for i in range(30)) for p in ("a", "b", "c")]
    rows = [(100 - i, texts[i % 3].upper() if i % 2 else texts[i % 3]) for i in range(30)]
    got = _assert_fused_equals_two_step(quality_filter(_corpus(spark, rows)), *_pipeline_keep())
    assert sorted(r[0] for r in got) == [71, 72, 73] and sum(got.values()) == 3
    short = [(i, "too short to pass") for i in range(10)]
    got = _assert_fused_equals_two_step(quality_filter(_corpus(spark, short)), *_pipeline_keep())
    assert not got


def test_fused_dedup_repeated_ids(spark):
    """A doc_id that appears more than once, where no id also labels an
    exact copy of a smaller id's text: the same row twice (one kept),
    one id on two texts that are not copies (one fate for both), an id
    on a text and a case variant of it, and null ids. The fused path
    keeps the two-step form's rows."""
    base = [f"w{i}" for i in range(40)]
    text = " ".join(base)
    rows = [
        (1, text),
        (2, " ".join(base[1:] + ["z2"])),  # near-dup of 1
        (2, " ".join(f"u{i}" for i in range(40))),
        (3, " ".join(f"v{i}" for i in range(40))),
        (3, " ".join(f"v{i}" for i in range(40))),
        (4, " ".join(f"x{i}" for i in range(40))),
        (4, " ".join(f"X{i}" for i in range(40)) + " "),
        (None, text),
        (None, " ".join(f"y{i}" for i in range(40))),
    ]
    got = _assert_fused_equals_two_step(_corpus(spark, rows), "lang")
    assert sorted(got) == [(1, "en"), (3, "en"), (4, "en")]
    assert sum(got.values()) == 3


def test_minhash_lsh_lane_leaves_nothing_persisted(spark, sf_dir):
    """The dedup_minhash_lsh registry lane writes its pairs to a
    temporary table and releases its two pins (the token pin and the
    band pin): building and collecting it adds no persisted RDD, and its
    rows are those of the lazy pairs."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.session import (
        load_spread,
    )

    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keySet())
    rows = dedup.q_dedup_minhash_lsh(spark, sf_dir).collect()
    assert not set(persisted().keySet()) - before
    lazy = dedup.minhash_near_dup_pairs(
        dedup.pin_doc_tokens(load_spread(spark, sf_dir, "documents"))
    )
    try:
        assert rows and sorted(rows) == sorted(lazy.collect())
    finally:
        unpin(lazy)
    assert not set(persisted().keySet()) - before


def test_connected_components_hand_graph(spark):
    """Chain 1-2-3, pair 10-11, isolates 20/21: labels converge to the
    min id of each component; isolates keep their own id."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.graph import (
        connected_components,
    )

    verts = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 20, 21)], "id bigint"
    )
    edges = spark.createDataFrame([(2, 1), (2, 3), (10, 11)], "src bigint, dst bigint")
    got = {
        r["id"]: r["component_id"]
        for r in connected_components(verts, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 21}


def test_arrow_cosine_lane_matches_builtin(spark, sf_dir):
    """The mapInPandas BLAS lane must produce the same top-k as the
    codegen zip_with fold: same (q_id, rank, c_id) triples, cosines
    within 1e-9 (BLAS accumulation order differs in final ulps)."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.similarity import (
        q_similarity_topk_cosine,
        q_similarity_topk_cosine_arrow,
    )

    exact = {
        (r["q_id"], r["rank"]): (r["c_id"], r["cosine"])
        for r in q_similarity_topk_cosine(spark, sf_dir).collect()
    }
    arrow = {
        (r["q_id"], r["rank"]): (r["c_id"], r["cosine"])
        for r in q_similarity_topk_cosine_arrow(spark, sf_dir).collect()
    }
    assert exact.keys() == arrow.keys()
    for k, (cid, cos) in exact.items():
        acid, acos = arrow[k]
        assert acid == cid, (k, cid, acid)
        assert abs(acos - cos) < 1e-9


def _random_graph(rng, n_nodes, n_edges):
    import random as _r
    nodes = list(range(0, n_nodes * 3, 3))  # non-contiguous ids
    edges = set()
    while len(edges) < n_edges:
        a, b = rng.sample(nodes, 2)
        edges.add((a, b))
    return nodes, sorted(edges)


def _driver_components(nodes, edges):
    """Ground-truth union-find on the driver (test oracle only)."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    out = {}
    for n in nodes:
        r = find(n)
        out.setdefault(r, []).append(n)
    return {n: min(members) for r, members in out.items() for n in members}


def test_star_cc_matches_hash_min_and_ground_truth(spark):
    """large-star/small-star parity: on a random 150-node graph both CC
    formulations must equal the driver union-find exactly."""
    import random

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(8)
    nodes, edges = _random_graph(rng, 150, 170)
    truth = _driver_components(nodes, edges)
    verts = spark.createDataFrame([(n,) for n in nodes], "id bigint")
    edf = spark.createDataFrame(edges, "src bigint, dst bigint")
    star = {
        r["id"]: r["component_id"]
        for r in connected_components_star(verts, edf).collect()
    }
    hashmin = {
        r["id"]: r["component_id"]
        for r in connected_components(verts, edf).collect()
    }
    assert star == truth
    assert hashmin == truth


def test_hash_min_escalates_on_deep_chain(spark):
    """A 120-deep chain exceeds any small hash-min round budget; the
    pre-r8 code silently returned PARTIAL labels. Now: escalate=False
    raises, and the default contracts + finishes via the star algorithm
    to the exact min label."""
    import pytest as _pytest

    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    n = 120
    # permuted ids so convergence can't ride on id order
    ids = [(i * 67) % n for i in range(n)]
    chain = [(ids[i], ids[i + 1]) for i in range(n - 1)]
    verts = spark.createDataFrame([(i,) for i in ids], "id bigint")
    edf = spark.createDataFrame(chain, "src bigint, dst bigint")

    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(verts, edf, max_iter=5, escalate=False).collect()

    got = {
        r["id"]: r["component_id"]
        for r in connected_components(verts, edf, max_iter=5).collect()
    }
    assert got == {i: 0 for i in ids}

    star = {
        r["id"]: r["component_id"]
        for r in connected_components_star(verts, edf).collect()
    }
    assert star == {i: 0 for i in ids}


def test_star_cc_isolates_and_empty_edges(spark):
    """Isolated vertices label themselves; an empty edge set is a valid
    (all-isolate) graph for both formulations."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.graph import (
        connected_components_star,
    )

    verts = spark.createDataFrame([(5,), (9,), (12,)], "id bigint")
    empty = spark.createDataFrame([], "src bigint, dst bigint")
    got = {
        r["id"]: r["component_id"]
        for r in connected_components_star(verts, empty).collect()
    }
    assert got == {5: 5, 9: 9, 12: 12}


def test_cc_escalation_handles_string_ids(spark):
    """entity_resolution_clusters runs CC over p_name STRINGS; the r8
    escalation (contract + star finish) must be type-generic — min
    labels are lexicographic there. 40-deep chain, forced escalation."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.graph import (
        connected_components,
    )

    names = [f"n{i:03d}" for i in range(40)]
    perm = [names[(i * 17) % 40] for i in range(40)]
    verts = spark.createDataFrame([(n,) for n in names], "id string")
    edges = spark.createDataFrame(
        [(perm[i], perm[i + 1]) for i in range(39)], "src string, dst string"
    )
    got = {
        r["id"]: r["component_id"]
        for r in connected_components(verts, edges, max_iter=3).collect()
    }
    assert got == {n: "n000" for n in names}


def test_star_cc_hub_bridge_topology(spark):
    """Two 400-leaf hubs joined by one bridge edge — the high-degree
    shape (a boilerplate template with hundreds of near-identical
    variants) where large-star's groupBy-min per hub does the heavy
    lifting. One component, min id 0; plus an untouched third hub."""
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.graph import (
        connected_components_star,
    )

    h1 = [(0, i) for i in range(2, 402)]          # hub 0
    h2 = [(1, i) for i in range(402, 802)]        # hub 1
    bridge = [(401, 402)]                          # leaf-to-leaf bridge
    h3 = [(1000, i) for i in range(1001, 1101)]   # separate hub 1000
    edges = spark.createDataFrame(
        h1 + h2 + bridge + h3, "src bigint, dst bigint"
    )
    verts = edges.selectExpr("src AS id").union(
        edges.selectExpr("dst AS id")
    ).distinct()
    got = {
        r["id"]: r["component_id"]
        for r in connected_components_star(verts, edges).collect()
    }
    big = {i for i in range(0, 802)}
    assert all(got[i] == 0 for i in big if i in got)
    assert all(got[i] == 1000 for i in [1000] + list(range(1001, 1101)))


def test_ngram_jaccard_wide_vocab_general_branch(spark, tmp_path):
    """The >62-token vocabulary forces the GENERAL verify branch (the
    fixture corpus's 31-token vocab always takes the bitmask fast path,
    so this branch — the one real corpora hit, and the one
    PROBE_TOP5_LINEARITY_r09 found parallelism-starved — needs its own
    exactness pin). Output must equal brute-force exact Jaccard."""
    from itertools import combinations

    vocab = [f"tok{i:03d}" for i in range(80)]  # > 62 -> general branch
    docs, sets = [], {}
    for i in range(10):
        a = vocab[(7 * i) % 40 : (7 * i) % 40 + 40]
        b = a[:-1]  # jaccard 39/40 = 0.975 >= 0.95
        docs.append((2 * i, " ".join(a)))
        docs.append((2 * i + 1, " ".join(b)))
        sets[2 * i], sets[2 * i + 1] = set(a), set(b)
    spark.createDataFrame(docs, "doc_id bigint, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        (r["a_id"], r["b_id"])
        for r in dedup.q_dedup_ngram_jaccard(spark, str(tmp_path)).collect()
    }
    want = {
        (x, y)
        for x, y in combinations(sorted(sets), 2)
        if len(sets[x] & sets[y]) / len(sets[x] | sets[y])
        >= dedup.JACCARD_THRESHOLD
    }
    assert got == want and len(want) > 0
