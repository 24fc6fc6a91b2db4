"""Similarity search over the ``embeddings`` table (``array<float>``,
dim=64) — brute-force cosine top-k as the exact baseline, random-
hyperplane LSH bucketing as the scale path, plus embedding-cosine
near-duplicate pairs (north-star surface; absent from the reference).

Determinism for the oracle gate: dot products are computed in DOUBLE
with an identical sequential fold on both engines (Spark zip_with +
aggregate; DuckDB list_sum over list_transform(list_zip(...)) — both
left-to-right over the same 64 elements), verified bit-identical across
all 2495 query-corpus pairs at sf0.01. Cross-ROW aggregation of doubles
is never compared raw: norms are quantized to integer micro-units
(round(x*1e6) -> BIGINT) whose sums are exact and order-independent.
(Decimal quantization was rejected: DuckDB's float/double->DECIMAL cast
rounds differently from Spark's near scale boundaries.)

Scale design (100 TB):
- Brute-force top-k is O(n_queries x n_corpus): correct answer machine
  and fine when the query set is small (queries broadcast; corpus
  streamed map-only, partial top-k per partition via the ranking window).
- For all-pairs / large query sets: random-hyperplane LSH (signature =
  sign pattern of h dot products against fixed pseudo-random planes)
  buckets the corpus; candidates only within a bucket. Signatures are
  built from deterministic md5-derived plane components, so the
  operator needs no stored model — any executor can recompute the planes.
- An IVF-style variant falls out of the same shape: cluster ids from
  KMeans (pyspark.ml) instead of hash buckets; not included because the
  fixtures are small enough that LSH demonstrates the partition story.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_spread, load_table

TOP_K = 5
N_QUERIES = 5           # vec_id < 5 are the query vectors
COSINE_DUP_THRESHOLD = 0.30   # fixture embeddings are near-orthogonal (max pair ~0.45); 0.30 marks the "suspiciously close" tail
LSH_PLANES = 8


def _emb(
    spark: SparkSession, sf_dir: str, spread: bool = True
) -> DataFrame:
    if not spread:
        # Arrow lanes and bounded collects take the RAW scan (r13,
        # VERDICT r12 item 1): a query-vector collect wants the pushed
        # filter straight off the parquet scan (no exchange job), and a
        # mapInPandas corpus pass wants FEW FAT Arrow batches for its
        # per-batch BLAS matmul — spreading it to 32 partitions forked
        # 32 Python workers for work one batch loop does faster
        # (guide §4: batch sizes large enough for vectorization).
        return load_table(spark, sf_dir, "embeddings")
    # the expression-bound lanes (per-row codegen folds over 64-dim
    # vectors) otherwise serialize onto one core
    return load_spread(spark, sf_dir, "embeddings")


def _dbl_vec(col):
    """array<float> -> array<double> (exact widening, both engines)."""
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    """Double dot product as a sequential left fold — bit-identical to
    DuckDB's list_sum(list_transform(list_zip(a,b), ...)) because both
    engines accumulate left-to-right over the same widened doubles."""
    prods = F.zip_with(a, b, lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _cosine(a, b):
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def q_similarity_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k (k=5) of the full corpus against the
    query set vec_id < 5. Queries are broadcast -> the cross join is
    map-only over the corpus; the ranking window shuffles only on the
    tiny query key."""
    emb = _emb(spark, sf_dir)
    corpus = emb.select(
        F.col("vec_id").alias("c_id"), _dbl_vec(F.col("embedding")).alias("c_vec")
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), _dbl_vec(F.col("embedding")).alias("q_vec")
    )
    scored = (
        corpus.join(F.broadcast(queries), F.col("c_id") != F.col("q_id"))
        .withColumn("cosine", _cosine(F.col("q_vec"), F.col("c_vec")))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "rank", "c_id", "cosine")
    )


def q_similarity_topk_cosine_arrow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Arrow-lane twin of q_similarity_topk_cosine: the corpus streams
    through mapInPandas and each Arrow batch scores against the
    broadcast query MATRIX with one BLAS matmul — the vectorized-UDF
    shape the brief's '10-100× over row-at-a-time Python' claim refers
    to, benchable side by side with the codegen zip_with fold. Rows-only
    at the gate (BLAS accumulation order differs from the sequential
    fold in final ulps); parity with the exact lane is test-pinned at
    1e-9."""
    import numpy as np
    import pandas as pd

    # UNspread scan on both sides (r13, VERDICT r12 item 1): the 5-row
    # query collect rides the pushed filter (vec_id < 5) directly off
    # the parquet scan — no repartition job in front of a bounded
    # driver fetch — and the mapInPandas corpus pass keeps few fat
    # Arrow batches for its one-matmul-per-batch BLAS loop instead of
    # fanning into 32 Python workers (guide §4).
    emb = _emb(spark, sf_dir, spread=False)
    qrows = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    q_ids = np.array([r["vec_id"] for r in qrows])
    qm = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    qm_n = qm / np.linalg.norm(qm, axis=1, keepdims=True)

    def score(batches):
        for pdf in batches:
            c_ids = pdf["vec_id"].to_numpy()
            cm = np.array(list(pdf["embedding"]), dtype=np.float64)
            cm_n = cm / np.linalg.norm(cm, axis=1, keepdims=True)
            cos = cm_n @ qm_n.T  # (batch, n_queries) — one matmul
            n_b, n_q = cos.shape
            yield pd.DataFrame(
                {
                    "q_id": np.repeat(q_ids[None, :], n_b, 0).ravel(),
                    "c_id": np.repeat(c_ids[:, None], n_q, 1).ravel(),
                    "cosine": cos.ravel(),
                }
            )

    scored = emb.select("vec_id", "embedding").mapInPandas(
        score, schema="q_id long, c_id long, cosine double"
    ).filter(F.col("c_id") != F.col("q_id"))
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("c_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "rank", "c_id", "cosine")
    )


def q_similarity_cosine_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= threshold) on a
    blocked subset (vec_id < 100 for the exact all-pairs check). The
    full-corpus scale path is q_similarity_lsh_topk's bucketing."""
    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < 100)
    a = emb.select(F.col("vec_id").alias("a_id"), _dbl_vec(F.col("embedding")).alias("a_vec"))
    b = emb.select(F.col("vec_id").alias("b_id"), _dbl_vec(F.col("embedding")).alias("b_vec"))
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .withColumn("cosine", _cosine(F.col("a_vec"), F.col("b_vec")))
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
        .select("a_id", "b_id", "cosine")
    )


def q_similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN: signature bit j = sign(v . h_j) with
    plane components h_j[i] derived from xxhash64(j, i) (deterministic,
    recomputable executor-side, no model state). Candidates share the
    full signature bucket; top-k within bucket. Approximate by design ->
    rows-only check; ground truth = q_similarity_topk_cosine."""
    emb = _emb(spark, sf_dir)

    # Planes are computed ONCE driver-side (deterministic md5-derived ±1
    # components) and embedded as literal arrays — the closure is a few
    # hundred bytes, implicitly shipped with the task like a broadcast
    # variable; signature evaluation is then a plain literal-array dot,
    # not a 64-way CASE tree per component.
    import hashlib

    def plane(j: int) -> list[float]:
        return [
            1.0 if hashlib.md5(f"plane:{j}:{i}".encode()).digest()[0] & 1 else -1.0
            for i in range(64)
        ]

    plane_lits = [F.array(*[F.lit(x) for x in plane(j)]) for j in range(LSH_PLANES)]

    def sig_bit(vec, j: int):
        dot = F.aggregate(
            F.zip_with(vec, plane_lits[j], lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0))

    def signature(vec):
        return F.concat(*[sig_bit(vec, j).cast("string") for j in range(LSH_PLANES)])

    corpus = emb.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_vec"),
        signature(F.col("embedding")).alias("sig"),
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        signature(F.col("embedding")).alias("sig"),
    )
    scored = (
        corpus.join(F.broadcast(queries), on="sig")
        .filter(F.col("c_id") != F.col("q_id"))
        .withColumn("cosine", _cosine(_dbl_vec(F.col("q_vec")), _dbl_vec(F.col("c_vec"))))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "rank", "c_id", "cosine")
    )


def q_similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: KMeans (pyspark.ml) partitions the corpus into
    nlist=16 cells; each query probes its nprobe=4 nearest centroids and
    ranks only those cells' vectors. At 100 TB: centroids are a broadcast
    model (KBs), cell assignment is map-only, and the search join touches
    |corpus|/nlist * nprobe rows per query instead of the full corpus.
    Approximate (recall < 1 when a true neighbor lives in an unprobed
    cell) -> rows-only; subset-tested against brute force."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    emb = _emb(spark, sf_dir)
    vecs = emb.select(
        "vec_id", array_to_vector(_dbl_vec(F.col("embedding"))).alias("features")
    )
    model = KMeans(k=16, seed=42, maxIter=20).fit(vecs)
    assigned = model.transform(vecs).select(
        "vec_id", "features", F.col("prediction").alias("cell")
    )
    centers = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell int, center array<double>",
    )
    # query -> its nprobe nearest cells (tiny cross join: n_queries x 16)
    queries = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), vector_to_array("features").alias("q_vec")
    )
    qc = queries.crossJoin(F.broadcast(centers)).withColumn(
        "dist2",
        F.aggregate(
            F.zip_with(F.col("q_vec"), F.col("center"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    wq = Window.partitionBy("q_id").orderBy(F.col("dist2").asc(), F.col("cell").asc())
    probed = qc.withColumn("cr", F.row_number().over(wq)).filter(F.col("cr") <= 4).select(
        "q_id", "q_vec", "cell"
    )
    corpus = assigned.select(
        F.col("vec_id").alias("c_id"), vector_to_array("features").alias("c_vec"), "cell"
    )
    scored = (
        corpus.join(F.broadcast(probed), "cell")
        .filter(F.col("c_id") != F.col("q_id"))
        .withColumn("cosine", _cosine(F.col("q_vec"), F.col("c_vec")))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "rank", "c_id", "cosine")
    )


#: banded hyperplane-LSH geometry shared by the near-dup lane and the
#: scale probe (scripts/probe_lsh.py)
N_LSH_BANDS = 8
LSH_TARGET_BUCKET = 200


def lsh_band_bits(
    n_corpus: int, target_bucket: int = LSH_TARGET_BUCKET
) -> int:
    """Corpus-adaptive bits per band: 2^bits signature buckets per band
    sized so the EXPECTED bucket holds ~target_bucket rows. Candidate
    work per band is sum(bucket^2)/2 ~= n * bucket / 2 — near-linear in
    |corpus|. FIXED bits make bucket size O(n) and pair work O(n^2),
    which is the difference between a 10 M-vector corpus costing ~8e9
    candidate dots and ~2e13 (measured: scripts/probe_lsh.py)."""
    import math

    return max(2, math.ceil(math.log2(max(n_corpus, 2) / target_bucket)))


def lsh_tag_bands(
    df: DataFrame, band_bits: int, n_bands: int = N_LSH_BANDS
) -> DataFrame:
    """Map-only band tagging over (vec_id bigint, embedding
    array<float>(64)): ALL sig bits per vector come from ONE float64
    matmul against the (n_bands*band_bits x 64) hyperplane matrix —
    deterministic md5-seeded planes, a few KB shipped in the task
    closure. Emits one (band, sig, vec_id, embedding) row per band.
    Factored out of q_similarity_lsh_near_dup so the 10 M-vector scale
    probe exercises the EXACT production tagging path."""
    import hashlib

    import numpy as np
    import pandas as pd

    planes = np.array(
        [
            [
                1.0
                if hashlib.md5(f"band-plane:{j}:{i}".encode()).digest()[0] & 1
                else -1.0
                for i in range(64)
            ]
            for j in range(n_bands * band_bits)
        ]
    )
    weights = 1 << np.arange(band_bits, dtype=np.int64)  # bit-pack per band

    def tag_bands(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            bits = ((V @ planes.T) >= 0.0).astype(np.int64)
            frames = []
            for b in range(n_bands):
                sig = bits[:, b * band_bits : (b + 1) * band_bits] @ weights
                frames.append(
                    pd.DataFrame(
                        {
                            "band": np.full(len(pdf), b, dtype=np.int32),
                            "sig": sig,
                            "vec_id": pdf["vec_id"].to_numpy(),
                            "embedding": pdf["embedding"],
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return df.select("vec_id", "embedding").mapInPandas(
        tag_bands, "band int, sig bigint, vec_id bigint, embedding array<float>"
    )


def q_similarity_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-corpus embedding near-duplicate pairs via banded hyperplane
    LSH (the scale path q_similarity_cosine_dedup's blocked subset only
    hints at). 8 bands of sign bits; a pair collides in a band with
    p = (1 - theta/pi)^bits.

    Physical shape (100 TB story):
    - Band tagging is map-only ``mapInPandas``: ALL sig bits per vector
      come from ONE float64 matmul against the (bits x 64) plane matrix —
      the earlier per-bit interpreted ``aggregate`` fold cost ~200M lambda
      evals at sf0.1.
    - Candidates are never materialized as a self-join: rows shuffle once
      on (band, sig) — a well-spread key whose bucket size the adaptive
      bits bound (below) — and ``applyInPandas`` scores each bucket with
      a single BLAS gram matmul, emitting only pairs >= threshold. The
      old join + per-pair interpreted dot moved ~40M candidate rows
      (vectors attached) through a shuffle and 2.5B lambda evals: 11.7 s;
      this shape is ~1 s at sf0.1.
    - The final ``distinct`` (cross-band dedup) sees only survivors
      (ids + cosine, no vectors). Cosine is computed identically in every
      band (same float64 matmul on the same rows), so duplicates are
      bit-identical and the distinct is safe.
    Approximate (misses pairs colliding in no band) -> rows-only;
    subset+recall tested against the exact all-pairs path (numpy pairwise
    summation differs from the sequential fold by < 1e-12 abs on 64 dims).
    """
    import numpy as np
    import pandas as pd

    # Spread corpus for the TAG pass (unlike the topk Arrow lane): the
    # band tagging emits 8x its input rows into a (band, sig) shuffle,
    # and that shuffle WRITE is the serial bottleneck on a 1-split scan
    # (A/B r13: spread 1.7-2.1 s steady vs unspread 2.3-2.8 s — the
    # explode+write parallelism outweighs the extra Python workers).
    emb = _emb(spark, sf_dir)

    # Bits per band scale with corpus size so the expected bucket stays
    # ~LSH_TARGET_BUCKET rows (lsh_band_bits; scale behavior measured by
    # scripts/probe_lsh.py at 10 M vectors). The count() runs on the RAW
    # scan, NOT the spread frame: against the bare parquet relation it
    # is a metadata-only row-count (r12's spread scan made it a
    # scan+exchange+agg job — r13 restores the cheap fit-like action).
    band_bits = lsh_band_bits(
        load_table(spark, sf_dir, "embeddings").count()
    )
    threshold = COSINE_DUP_THRESHOLD
    tagged = lsh_tag_bands(emb, band_bits)

    def bucket_pairs(pdf):
        n = len(pdf)
        empty = pd.DataFrame({"a_id": pd.Series(dtype="int64"),
                              "b_id": pd.Series(dtype="int64"),
                              "cosine": pd.Series(dtype="float64")})
        if n < 2:
            return empty
        V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy()
        # Per-pair dots via gathered einsum over fixed-length (64) rows,
        # NOT a gram matmul: BLAS blocking makes an element's summation
        # order depend on the matrix shape, so the same pair scored in
        # two different-sized buckets could differ in the last ulp and
        # survive the cross-band distinct twice. einsum's reduction order
        # depends only on the row length, which is constant.
        nrm = np.sqrt(np.einsum("ij,ij->i", V, V))
        iu, ju = np.triu_indices(n, k=1)
        cos = np.einsum("ij,ij->i", V[iu], V[ju]) / (nrm[iu] * nrm[ju])
        keep = cos >= threshold
        if not keep.any():
            return empty
        a, b = ids[iu[keep]], ids[ju[keep]]
        return pd.DataFrame(
            {
                "a_id": np.minimum(a, b),
                "b_id": np.maximum(a, b),
                "cosine": cos[keep],
            }
        )

    return (
        tagged.groupBy("band", "sig")
        .applyInPandas(bucket_pairs, "a_id bigint, b_id bigint, cosine double")
        .distinct()
    )


def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding stats: count + mean L2 norm. Norms (doubles,
    bit-identical per row across engines) are quantized to integer
    micro-units before the cross-row sum, which is then exact and
    summation-order-independent."""
    emb = _emb(spark, sf_dir)
    v = _dbl_vec(F.col("embedding"))
    norm_mu = F.round(F.sqrt(_dot(v, v)) * F.lit(1_000_000.0)).cast("bigint")
    return (
        emb.withColumn("norm_mu", norm_mu)
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            (F.sum("norm_mu") / F.lit(1_000_000.0) / F.count("*")).alias("mean_norm"),
        )
    )


_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))"
)


def _cos_sql(a: str, b: str) -> str:
    dot = _DOT.format(a=a, b=b)
    na = _DOT.format(a=a, b=a)
    nb = _DOT.format(a=b, b=b)
    return f"{dot} / (sqrt({na}) * sqrt({nb}))"


#: shift applied before micro-quantization so every quantized value is
#: positive — integer `div`/`//` then agree across engines (Spark
#: truncates toward zero, DuckDB floors; identical on non-negatives).
#: Fixture embedding values lie in (-0.6, 0.6); 2.0 is ample headroom.
_CENT_OFFSET = 2.0


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid fit + per-vector distance-to-own-centroid — the
    cluster-quality / outlier-score primitive (and one KMeans Lloyd step).

    Exactness machinery: each component is quantized to integer
    micro-units (offset first, so everything is non-negative), the
    centroid is the exact integer `div` mean per (label, dim), and the
    reported score is the integer sum of squared micro deviations — no
    cross-row double accumulation anywhere, so aggregation order cannot
    wobble a single bit.

    Scale shape: posexplode is a map-side 1-to-64 expansion; the centroid
    fit is ONE groupBy(label, dim) partial-agg shuffle; the transform
    joins the 640-row centroid table back BROADCAST and reduces per
    vec_id (second bounded shuffle). At 100 TB this is exactly the
    distributed KMeans-assignment shape."""
    emb = _emb(spark, sf_dir)
    ex = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim", "val"),
    ).withColumn(
        "vm",
        F.round(
            (F.col("val").cast("double") + F.lit(_CENT_OFFSET)) * 1_000_000
        ).cast("bigint"),
    )
    cent = ex.groupBy("label", "dim").agg(
        F.expr("sum(vm) div count(vm)").alias("c_micro")
    )
    return (
        ex.join(F.broadcast(cent), ["label", "dim"])
        .withColumn("dev", F.col("vm") - F.col("c_micro"))
        .groupBy("vec_id", "label")
        .agg(F.sum(F.col("dev") * F.col("dev")).alias("ssd_micro2"))
    )


_CENTROID_ORACLE = f"""
WITH ex AS (
  SELECT vec_id, label,
    unnest(generate_series(0, len(embedding) - 1)) AS dim,
    CAST(round((CAST(unnest(embedding) AS DOUBLE) + {_CENT_OFFSET})
               * 1000000) AS BIGINT) AS vm
  FROM embeddings
), cent AS (
  SELECT label, dim, sum(vm) // count(vm) AS c_micro
  FROM ex GROUP BY label, dim
)
SELECT ex.vec_id, ex.label,
  CAST(sum((ex.vm - cent.c_micro) * (ex.vm - cent.c_micro)) AS BIGINT)
    AS ssd_micro2
FROM ex JOIN cent ON ex.label = cent.label AND ex.dim = cent.dim
GROUP BY ex.vec_id, ex.label
"""


#: SemDeDup cluster count — seed centroids are the K lowest vec_ids
#: (a deterministic KMeans-init step, so the oracle can replay it).
SEMDEDUP_K = 8


def _semdedup_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup assignment pass, PRE-pin: (vec_id, cluster_id, v, nrm).
    Factored out so the broadcast-seed plan pin (tests/test_plans.py::
    test_semdedup_broadcasts_seeds) can inspect the assignment plan —
    in q_semdedup_embedding the eager localCheckpoint hides this
    subtree behind a LogicalRDD."""
    emb = _emb(spark, sf_dir)
    vm = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") * 1_000_000).cast("bigint"),
    )
    vecs = emb.select("vec_id", vm.alias("vm"), _dbl_vec("embedding").alias("v"))
    seeds = vecs.filter(F.col("vec_id") < SEMDEDUP_K).select(
        F.col("vec_id").alias("cid"), F.col("vm").alias("cvec")
    )
    ssd = F.aggregate(
        F.zip_with("vm", "cvec", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return (
        vecs.crossJoin(F.broadcast(seeds))
        .select("vec_id", "v", F.struct(ssd.alias("ssd"), "cid").alias("sc"))
        .groupBy("vec_id")
        .agg(F.min("sc").alias("m"), F.first("v").alias("v"))
        # norm hoisted out of the pair stage: computed once per vector
        # here, so each candidate pair pays ONE dot-product fold, not
        # three (the pair stage is the quadratic part — 3x matters)
        .select(
            "vec_id",
            F.col("m.cid").alias("cluster_id"),
            "v",
            F.sqrt(_dot(F.col("v"), F.col("v"))).alias("nrm"),
        )
    )


def q_semdedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication = partition
    the embedding space into clusters, then search for near-duplicates
    only WITHIN each cluster — the trick that keeps the quadratic pair
    work local and makes embedding dedup feasible at web scale.

    Here the cluster model is deterministic so the oracle can replay it:
    the K lowest vec_ids act as fixed seed centroids (exactly a KMeans
    init + one Lloyd assignment step), and each vector goes to the seed
    with the smallest integer-exact squared distance (components micro-
    quantized to BIGINT; ties broken by centroid id). Within a cluster,
    members with cosine >= COSINE_DUP_THRESHOLD against a LOWER vec_id
    are flagged ``dropped`` (keep-lowest-id, the paper's policy). Cosine
    uses the module's bit-identical sequential double fold.

    Scale shape (100 TB): the centroid table is K rows — broadcast; the
    assignment pass is map-only. The pair stage shuffles once on
    cluster_id and is quadratic only per cluster — with a real KMeans
    fit (pyspark.ml, ~100k centroids at web scale) expected cluster
    size stays bounded, which is the whole point of SemDeDup vs
    all-pairs cosine (q_similarity_cosine_dedup's blocked subset). If a
    degenerate fit ever yields a mega-cluster, the single-task pair
    emission has the same shape PROBE_MARKET_BASKET_r08 measured, and
    the same generic remedy applies: route (cluster_id, vec_id) through
    analytics.basket_pair_stream_guarded and join vectors back by id
    (parity of that generator pinned in tests/test_properties.py)."""
    assigned = _semdedup_assigned(spark, sf_dir)
    # Pin the assignment (r13, guide §2.4): ``assigned`` fans out to
    # THREE consumers (both pair-join sides + the final output join),
    # and Catalyst shares no subtrees across DAG branches — unpinned,
    # the seed crossJoin (8x rows) + argmin aggregation lineage ran 3x.
    # Size class: O(n) rows x (64 doubles + id + norm) — the same class
    # as the corpus itself; at production scale swap for
    # persist(MEMORY_AND_DISK) if executor-local checkpoint storage is
    # a concern (the SemDeDup shape NEEDS the assigned vectors on both
    # pair sides, so no bounded projection exists).
    assigned = assigned.localCheckpoint()
    a = assigned.select(
        F.col("vec_id").alias("a_id"),
        "cluster_id",
        F.col("v").alias("a_v"),
        F.col("nrm").alias("a_n"),
    )
    b = assigned.select(
        F.col("vec_id").alias("b_id"),
        "cluster_id",
        F.col("v").alias("b_v"),
        F.col("nrm").alias("b_n"),
    )
    dropped = (
        a.join(b, ["cluster_id"])
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(
            _dot(F.col("a_v"), F.col("b_v")) / (F.col("a_n") * F.col("b_n"))
            >= COSINE_DUP_THRESHOLD
        )
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
        .withColumn("dropped", F.lit(1))
    )
    return assigned.join(dropped, ["vec_id"], "left").select(
        "vec_id",
        F.col("cluster_id").cast("int").alias("cluster_id"),
        F.coalesce("dropped", F.lit(0)).cast("int").alias("dropped"),
    )


_SEMDEDUP_ORACLE = f"""
WITH vm AS (
  SELECT vec_id, embedding,
    list_transform(embedding,
      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS vm
  FROM embeddings
), seeds AS (
  SELECT vec_id AS cid, vm AS cvec FROM vm WHERE vec_id < {SEMDEDUP_K}
), scored AS (
  SELECT v.vec_id, s.cid,
    list_sum(list_transform(list_zip(v.vm, s.cvec),
      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS ssd
  FROM vm v CROSS JOIN seeds s
), assigned AS (
  SELECT vec_id, cid AS cluster_id FROM (
    SELECT vec_id, cid,
      row_number() OVER (PARTITION BY vec_id ORDER BY ssd, cid) AS rn
    FROM scored
  ) WHERE rn = 1
), dropped AS (
  SELECT DISTINCT b.vec_id AS vec_id
  FROM assigned a
  JOIN assigned b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
  WHERE {_cos_sql('ea.embedding', 'eb.embedding')} >= {COSINE_DUP_THRESHOLD}
)
SELECT a.vec_id, CAST(a.cluster_id AS INTEGER) AS cluster_id,
  CAST(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
    AS dropped
FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
"""


#: product quantization geometry: 64-dim vectors -> PQ_M subspaces of
#: PQ_DSUB dims; per-subspace codebook = the PQ_K lowest vec_ids'
#: subvectors (deterministic init, same policy as SEMDEDUP_K seeds)
PQ_M = 8
PQ_DSUB = 8
PQ_K = 16


def q_similarity_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011) with asymmetric
    distance computation — the third ANN family next to the hyperplane-
    LSH and IVF variants, and unlike those it is VALUE-verified: the
    codebooks are deterministic (subvectors of the PQ_K lowest vec_ids)
    and every distance is integer-exact micro-unit SSD, so the oracle
    replays encode + ADC bit-for-bit.

    encode: each vector splits into PQ_M subvectors; each subvector maps
    to the nearest codeword (argmin integer SSD, ties to the lower code
    id) — the vector compresses to PQ_M small codes (8 bytes here vs
    256 raw: the memory story that makes billion-scale ANN fit in RAM).
    query: per (query, subspace, codeword) distances form a lookup
    table; a candidate's approximate distance is the sum of PQ_M table
    entries for its codes — no candidate vector is ever touched.

    Scale shape: the codebook (PQ_M x PQ_K subvectors) and the per-query
    LUT (n_queries x PQ_M x PQ_K rows) are both broadcast; encoding and
    ADC scoring are map-only over the corpus; the only shuffle is the
    final per-query top-k aggregation of (q_id, c_id) partial sums."""
    emb = _emb(spark, sf_dir)
    vm = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") * 1_000_000).cast("bigint"),
    )
    vecs = emb.select("vec_id", vm.alias("vm"))
    subv = vecs.select(
        "vec_id",
        "vm",
        F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("sub"),
    ).select(
        "vec_id",
        "sub",
        F.expr(f"slice(vm, sub * {PQ_DSUB} + 1, {PQ_DSUB})").alias("sv"),
    )
    cb = subv.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("code"), "sub", F.col("sv").alias("cv")
    )
    ssd = F.aggregate(
        F.zip_with("sv", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    enc = (
        subv.join(F.broadcast(cb), ["sub"])
        .select(
            "vec_id", "sub", F.struct(ssd.alias("ssd"), "code").alias("sc")
        )
        .groupBy("vec_id", "sub")
        .agg(F.min("sc").alias("m"))
        .select("vec_id", "sub", F.col("m.code").alias("code"))
    )
    lut = (
        subv.filter(F.col("vec_id") < N_QUERIES)
        .withColumnRenamed("vec_id", "q_id")
        .join(F.broadcast(cb), ["sub"])
        .select("q_id", "sub", "code", ssd.alias("ssd"))
    )
    adc = (
        enc.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", F.col("vec_id").alias("c_id"))
        .agg(F.sum("ssd").alias("approx_ssd"))
    )
    w = Window.partitionBy("q_id").orderBy("approx_ssd", "c_id")
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "rank", "c_id", "approx_ssd")
    )


_PQ_ORACLE = f"""
WITH vm AS (
  SELECT vec_id,
    list_transform(embedding,
      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS vm
  FROM embeddings
), subv AS (
  SELECT vec_id, sub,
    list_transform(generate_series(1, {PQ_DSUB}),
      i -> vm[sub * {PQ_DSUB} + i]) AS sv
  FROM (SELECT vec_id, vm,
          unnest(generate_series(0, {PQ_M - 1})) AS sub FROM vm)
), cb AS (
  SELECT vec_id AS code, sub, sv AS cv FROM subv WHERE vec_id < {PQ_K}
), enc AS (
  SELECT vec_id, sub, code FROM (
    SELECT s.vec_id, s.sub, c.code,
      row_number() OVER (PARTITION BY s.vec_id, s.sub
        ORDER BY list_sum(list_transform(list_zip(s.sv, c.cv),
          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.code) AS rn
    FROM subv s JOIN cb c ON s.sub = c.sub
  ) WHERE rn = 1
), lut AS (
  SELECT q.vec_id AS q_id, q.sub, c.code,
    list_sum(list_transform(list_zip(q.sv, c.cv),
      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS ssd
  FROM subv q JOIN cb c ON q.sub = c.sub
  WHERE q.vec_id < {N_QUERIES}
), adc AS (
  SELECT l.q_id, e.vec_id AS c_id, sum(l.ssd) AS approx_ssd
  FROM enc e JOIN lut l ON e.sub = l.sub AND e.code = l.code
  WHERE e.vec_id != l.q_id
  GROUP BY l.q_id, e.vec_id
), ranked AS (
  SELECT q_id, c_id, approx_ssd,
    CAST(row_number() OVER (PARTITION BY q_id
      ORDER BY approx_ssd, c_id) AS INTEGER) AS rank
  FROM adc
)
SELECT q_id, rank, c_id, CAST(approx_ssd AS BIGINT) AS approx_ssd
FROM ranked WHERE rank <= {TOP_K}
"""


def q_embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION corpus profile of the embedding space: count, exact
    micro-unit sum and sum-of-squares, and integer mean per dimension —
    the embedding-QA check that catches dead dimensions (zero variance),
    scale drift after a model swap, and normalization bugs before they
    poison ANN indexes. Sums stay raw integers (variance is one exact
    division downstream) so no cross-row float accumulation and no
    overflow products.

    Scale: posexplode is a map-side 1-to-64 expansion; ONE partial-agg
    shuffle onto 64 dimension keys."""
    emb = _emb(spark, sf_dir)
    ex = emb.select(F.posexplode("embedding").alias("dim", "val")).select(
        "dim",
        F.round(F.col("val").cast("double") * 1_000_000)
        .cast("bigint")
        .alias("vm"),
    )
    return ex.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vm").alias("sum_mu"),
        F.sum(F.col("vm") * F.col("vm")).alias("sum_sq_mu2"),
        F.expr("sum(vm) div count(*)").cast("bigint").alias("mean_mu"),
    )


_DIM_PROFILE_ORACLE = """
WITH ex AS (
  SELECT unnest(generate_series(0, len(embedding) - 1)) AS dim,
    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT)
      AS vm
  FROM embeddings
)
SELECT dim, count(*) AS n,
  CAST(sum(vm) AS BIGINT) AS sum_mu,
  CAST(sum(vm * vm) AS BIGINT) AS sum_sq_mu2,
  CAST(CASE WHEN sum(vm) >= 0 THEN sum(vm) // count(*)
            ELSE -((-sum(vm)) // count(*)) END AS BIGINT) AS mean_mu
FROM ex GROUP BY dim
"""


FILT_TOPK = 5
FILT_QUERY_IDS = (0, 1, 2)


def q_similarity_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — the metadata-predicate + top-k shape
    every vector store must get right (pre-filter, THEN score: scoring
    the whole corpus and filtering after burns compute and can return
    < k rows): for each query vector, top-5 neighbors AMONG vectors
    sharing its label. Scores are int8-quantized integer dot products
    (the embedding_quantize_int8 convention), so ranking is bit-stable
    and the oracle replays it exactly; ties break on vec_id.

    Plan: the label predicate joins query-side labels to the corpus
    BEFORE any scoring (an equi-join on label — at scale the corpus is
    partitioned by the filter column, making this partition pruning);
    the 3-query side broadcasts; per-group ranking is a window over
    each query's candidate set."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "dv"
        ),
    ).select(
        "vec_id",
        "label",
        "dv",
        (
            F.array_max(F.transform("dv", lambda x: F.abs(x))) / F.lit(127.0)
        ).alias("scale"),
    )
    q8 = base.select(
        "vec_id",
        "label",
        F.transform(
            F.col("dv"), lambda x: F.round(x / F.col("scale")).cast("int")
        ).alias("q8"),
    )
    queries = q8.filter(
        F.col("vec_id").isin(*FILT_QUERY_IDS)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("q8").alias("qq"),
    )
    cands = q8.join(
        F.broadcast(queries),
        (F.col("label") == F.col("qlabel"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        "vec_id",
        "label",
        F.aggregate(
            F.zip_with("q8", "qq", lambda a, b: (a * b).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("qdot"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("qdot"), "vec_id")
    return (
        cands.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= FILT_TOPK)
        .select("query_id", "vec_id", "label", "qdot", "rnk")
    )


_FILT_IDS_SQL = ", ".join(str(i) for i in FILT_QUERY_IDS)

_FILTERED_TOPK_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label,
    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
  FROM embeddings
), s AS (
  SELECT vec_id, label, dv,
    list_max(list_transform(dv, x -> abs(x))) / 127.0 AS scale
  FROM e
), q AS (
  SELECT vec_id, label,
    list_transform(dv, x -> CAST(round(x / scale) AS INTEGER)) AS q8
  FROM s
), queries AS (
  SELECT vec_id AS query_id, label AS qlabel, q8 AS qq
  FROM q WHERE vec_id IN ({_FILT_IDS_SQL})
), cands AS (
  SELECT qs.query_id, c.vec_id, c.label,
    CAST(list_sum(list_transform(list_zip(c.q8, qs.qq),
      z -> CAST(z[1] AS BIGINT) * z[2])) AS BIGINT) AS qdot
  FROM q c JOIN queries qs
    ON c.label = qs.qlabel AND c.vec_id <> qs.query_id
), ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
    ORDER BY qdot DESC, vec_id) AS INTEGER) AS rnk
  FROM cands
)
SELECT query_id, vec_id, label, qdot, rnk
FROM ranked WHERE rnk <= {FILT_TOPK}
"""


#: Matryoshka evaluation: truncation prefixes to score against the full
#: 64-dim cosine, and the consecutive-id pair sample size
MRL_DIMS = (8, 16, 32)
MRL_PAIR_IDS = 200


def q_matryoshka_dim_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation truncation audit (Kusupati et al.
    NeurIPS 2022): how much cosine similarity drifts when vectors are
    truncated to their first 8/16/32 dims vs the full 64 — the report
    that picks the cheapest ANN index dimension (a prefix whose mean
    drift is a few thousand ppm retrieves almost identically at a
    fraction of the memory/bandwidth; embeddings NOT trained
    matryoshka-style show large drift and must stay full-width). Scored
    over the deterministic consecutive-id pair sample (vec_id, vec_id+1),
    vec_id < MRL_PAIR_IDS.

    Exactness: each pair's |cos_full − cos_prefix| is one double
    expression over the identical left-fold dot products both engines
    compute, quantized to micro per PAIR; per-dim sums are then exact
    integers (no cross-row float accumulation).

    Scale shape: the pair join is a self-join on vec_id+1 over a
    bounded id range (broadcast); prefixes come from ``slice`` on the
    already-loaded vector — 3 dims explode each pair to 3 rows, then one
    3-row aggregate. At corpus scale the same shape runs over any
    bounded pair sample (the estimator needs pairs, not all-pairs)."""
    emb = _emb(spark, sf_dir)
    a = emb.filter(F.col("vec_id") < MRL_PAIR_IDS).select(
        F.col("vec_id").alias("a_id"),
        _dbl_vec(F.col("embedding")).alias("a_vec"),
    )
    b = emb.select(
        (F.col("vec_id") - 1).alias("a_id"),
        _dbl_vec(F.col("embedding")).alias("b_vec"),
    )
    pairs = a.join(b, "a_id")
    per_dim = pairs.select(
        "a_id",
        "a_vec",
        "b_vec",
        _cosine(F.col("a_vec"), F.col("b_vec")).alias("cos_full"),
        F.explode(
            F.array(*[F.lit(d) for d in MRL_DIMS])
        ).alias("dim"),
    ).select(
        "dim",
        F.round(
            F.abs(
                F.col("cos_full")
                - _cosine(
                    F.expr("slice(a_vec, 1, dim)"),
                    F.expr("slice(b_vec, 1, dim)"),
                )
            )
            * 1_000_000.0
        )
        .cast("bigint")
        .alias("err_mu"),
    )
    return (
        per_dim.groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("err_mu").cast("bigint").alias("sum_abs_err_mu"),
        )
        .select(
            F.col("dim").cast("int").alias("dim"),
            "n_pairs",
            "sum_abs_err_mu",
            F.round(
                F.col("sum_abs_err_mu").cast("double")
                / F.col("n_pairs").cast("double")
            )
            .cast("bigint")
            .alias("mean_abs_err_mu"),
        )
    )


_MRL_ORACLE = f"""
WITH pairs AS (
  SELECT a.vec_id AS a_id, a.embedding AS a_vec, b.embedding AS b_vec
  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
  WHERE a.vec_id < {MRL_PAIR_IDS}
), per_dim AS (
  SELECT d.dim,
    CAST(round(abs(
      {_cos_sql('a_vec', 'b_vec')}
      - {_cos_sql('list_slice(a_vec, 1, d.dim)',
                  'list_slice(b_vec, 1, d.dim)')}
    ) * 1000000.0) AS BIGINT) AS err_mu
  FROM pairs CROSS JOIN (
    SELECT unnest([{', '.join(str(d) for d in MRL_DIMS)}]) AS dim
  ) d
)
SELECT CAST(dim AS INTEGER) AS dim,
  CAST(count(*) AS BIGINT) AS n_pairs,
  CAST(sum(err_mu) AS BIGINT) AS sum_abs_err_mu,
  CAST(round(CAST(sum(err_mu) AS DOUBLE) / CAST(count(*) AS DOUBLE))
       AS BIGINT) AS mean_abs_err_mu
FROM per_dim GROUP BY dim
"""


def q_silhouette_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette per label — the
    cluster-quality verdict on the label partition that SemDeDup / IVF
    lean on: s_i = (b_i − a_i) / max(a_i, b_i) with a_i = distance to
    the OWN-label centroid and b_i = distance to the NEAREST other
    centroid (Rousseeuw 1987's full silhouette replaces centroids with
    mean pairwise distances — O(n²); the centroid form is the standard
    at-scale estimator, e.g. Spark MLlib's ClusteringEvaluator). Mean
    s near 0 ⇒ labels are not geometric clusters (embeddings ignore the
    label); near 1 ⇒ tight separable clusters.

    Exactness: squared distances are exact integer sums of squared
    micro deviations (the embedding_centroids machinery — offset, µ-
    quantize, integer centroid `div`); per-VECTOR s is one sqrt/division
    expression over those exact integers, quantized to ppm; the
    per-label mean is then an exact integer sum ÷ count.

    Scale shape: the centroid table (|labels|·64 rows) broadcasts; the
    per-vector × per-candidate-label expansion is map-only; two bounded
    shuffles ((vec, cand) reduce, label reduce). The all-pairs matrix
    never materializes."""
    emb = _emb(spark, sf_dir)
    ex = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim", "val"),
    ).withColumn(
        "vm",
        F.round(
            (F.col("val").cast("double") + F.lit(_CENT_OFFSET)) * 1_000_000
        ).cast("bigint"),
    )
    cent = ex.groupBy(F.col("label").alias("c_label"), "dim").agg(
        F.expr("sum(vm) div count(vm)").alias("c_micro")
    )
    ssd = (
        ex.join(F.broadcast(cent), "dim")
        .withColumn("dev", F.col("vm") - F.col("c_micro"))
        .groupBy("vec_id", "label", "c_label")
        .agg(F.sum(F.col("dev") * F.col("dev")).alias("ssd"))
    )
    per_vec = ssd.groupBy("vec_id", "label").agg(
        F.max(
            F.when(F.col("c_label") == F.col("label"), F.col("ssd"))
        ).alias("a2"),
        F.min(
            F.when(F.col("c_label") != F.col("label"), F.col("ssd"))
        ).alias("b2"),
    )
    s_ppm = F.round(
        (F.sqrt(F.col("b2").cast("double")) - F.sqrt(F.col("a2").cast("double")))
        / F.greatest(
            F.sqrt(F.col("a2").cast("double")),
            F.sqrt(F.col("b2").cast("double")),
        )
        * 1_000_000.0
    ).cast("bigint")
    return (
        per_vec.select("label", s_ppm.alias("s_ppm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.round(
                F.sum("s_ppm").cast("double")
                / F.count(F.lit(1)).cast("double")
            )
            .cast("bigint")
            .alias("mean_silhouette_ppm"),
        )
    )


_SILHOUETTE_ORACLE = f"""
WITH ex AS (
  SELECT vec_id, label,
    unnest(generate_series(0, len(embedding) - 1)) AS dim,
    CAST(round((CAST(unnest(embedding) AS DOUBLE) + {_CENT_OFFSET})
               * 1000000) AS BIGINT) AS vm
  FROM embeddings
), cent AS (
  SELECT label AS c_label, dim, sum(vm) // count(vm) AS c_micro
  FROM ex GROUP BY label, dim
), ssd AS (
  SELECT ex.vec_id, ex.label, cent.c_label,
    sum((ex.vm - cent.c_micro) * (ex.vm - cent.c_micro)) AS ssd
  FROM ex JOIN cent ON cent.dim = ex.dim
  GROUP BY 1, 2, 3
), per_vec AS (
  SELECT vec_id, label,
    max(CASE WHEN c_label = label THEN ssd END) AS a2,
    min(CASE WHEN c_label != label THEN ssd END) AS b2
  FROM ssd GROUP BY 1, 2
), s AS (
  SELECT label,
    CAST(round((sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE)))
      / greatest(sqrt(CAST(a2 AS DOUBLE)), sqrt(CAST(b2 AS DOUBLE)))
      * 1000000.0) AS BIGINT) AS s_ppm
  FROM per_vec
)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
  CAST(round(CAST(sum(s_ppm) AS DOUBLE) / CAST(count(*) AS DOUBLE))
       AS BIGINT) AS mean_silhouette_ppm
FROM s GROUP BY label
"""


#: triplet audit: anchors are vec_id < TRIPLET_ANCHORS
TRIPLET_ANCHORS = 300


def q_triplet_margin_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triplet sanity audit for contrastive training data: for each
    anchor, the deterministic positive (next vec_id with the SAME
    label) and negative (next vec_id with a DIFFERENT label); a
    violation is cos(a,p) ≤ cos(a,n) — the anchor sits closer to the
    wrong class. A high violation rate means (embedding, label) pairs
    are unusable as contrastive supervision BEFORE any training run
    spends GPU time discovering it; pairs with mined hard negatives
    feed negative_sampling_pairs downstream.

    Exactness: triplet ids are exact conditional-min aggregates; the
    two cosines per triplet use the shared left-fold dot product and
    are compared directly (same doubles on both engines); counts exact.

    Scale shape: candidate matching joins the bounded anchor set
    (broadcast) to the corpus once (range predicate vec_id > anchor,
    conditional min — no window over the corpus); three narrow vector
    lookups re-join BROADCAST anchor/positive/negative id lists. At
    production scale anchors are a sample by construction, so every
    relation except the one corpus scan is bounded."""
    emb = _emb(spark, sf_dir)
    a_ids = emb.filter(F.col("vec_id") < TRIPLET_ANCHORS).select(
        F.col("vec_id").alias("a_id"), F.col("label").alias("a_label")
    )
    cand = (
        emb.select("vec_id", "label")
        .join(
            F.broadcast(a_ids), F.col("vec_id") > F.col("a_id")
        )
        .groupBy("a_id", "a_label")
        .agg(
            F.min(
                F.when(F.col("label") == F.col("a_label"), F.col("vec_id"))
            ).alias("p_id"),
            F.min(
                F.when(F.col("label") != F.col("a_label"), F.col("vec_id"))
            ).alias("n_id"),
        )
        .filter(F.col("p_id").isNotNull() & F.col("n_id").isNotNull())
    )
    v = emb.select("vec_id", _dbl_vec(F.col("embedding")).alias("vec"))
    trip = (
        cand.join(
            F.broadcast(v.select(F.col("vec_id").alias("a_id"),
                                 F.col("vec").alias("a_vec"))),
            "a_id",
        )
        .join(
            v.select(F.col("vec_id").alias("p_id"),
                     F.col("vec").alias("p_vec")),
            "p_id",
        )
        .join(
            v.select(F.col("vec_id").alias("n_id"),
                     F.col("vec").alias("n_vec")),
            "n_id",
        )
    )
    viol = (
        _cosine(F.col("a_vec"), F.col("p_vec"))
        <= _cosine(F.col("a_vec"), F.col("n_vec"))
    ).cast("bigint")
    return trip.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triplets"),
        F.sum(viol).cast("bigint").alias("n_violations"),
    ).select(
        "n_triplets",
        "n_violations",
        F.expr("n_violations * 1000000L div n_triplets").alias(
            "violation_ppm"
        ),
    )


_TRIPLET_ORACLE = f"""
WITH a_ids AS (
  SELECT vec_id AS a_id, label AS a_label FROM embeddings
  WHERE vec_id < {TRIPLET_ANCHORS}
), cand AS (
  SELECT a.a_id, a.a_label,
    min(CASE WHEN e.label = a.a_label THEN e.vec_id END) AS p_id,
    min(CASE WHEN e.label != a.a_label THEN e.vec_id END) AS n_id
  FROM embeddings e JOIN a_ids a ON e.vec_id > a.a_id
  GROUP BY 1, 2
), trip AS (
  SELECT c.a_id, ea.embedding AS a_vec, ep.embedding AS p_vec,
    en.embedding AS n_vec
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.a_id
  JOIN embeddings ep ON ep.vec_id = c.p_id
  JOIN embeddings en ON en.vec_id = c.n_id
  WHERE c.p_id IS NOT NULL AND c.n_id IS NOT NULL
), flags AS (
  SELECT CASE WHEN {_cos_sql('a_vec', 'p_vec')}
              <= {_cos_sql('a_vec', 'n_vec')} THEN 1 ELSE 0 END AS viol
  FROM trip
)
SELECT CAST(count(*) AS BIGINT) AS n_triplets,
  CAST(sum(viol) AS BIGINT) AS n_violations,
  CAST(sum(viol) * 1000000 // count(*) AS BIGINT) AS violation_ppm
FROM flags
"""


#: hubness audit: corpus subset size and neighborhood size
HUB_SUBSET = 300
HUB_K = 10


def q_ann_hubness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness audit (Radovanović et al., JMLR 2010) — the
    high-dimensional pathology that quietly ruins ANN quality: a few
    "hub" vectors appear in a huge share of other points' k-NN lists
    (their reverse-neighbor count N_k explodes) while antihubs appear
    in none, so retrieval keeps surfacing the same items regardless of
    query. Over the deterministic vec_id < HUB_SUBSET sample: exact
    k-occurrence counts N_10 per vector and the distribution's
    skew summary (max, share of vectors with N_k = 0, share of
    k-occurrence mass held by the top decile) — the go/no-go check
    before trusting cosine k-NN on a new embedding model.

    Exactness: neighbors ranked by (cosine DESC, id ASC) over the same
    shared left-fold dot product; all summary stats are exact integer
    counts and one ppm division each.

    Scale shape: the subset is bounded by construction (hubness is an
    estimator — a sample of a few hundred suffices, Radovanović §6);
    the pairwise scoring is |subset|² map-side work; ranking windows
    are per-query over |subset| rows; N_k aggregation is one bounded
    shuffle."""
    emb = _emb(spark, sf_dir)
    sub = emb.filter(F.col("vec_id") < HUB_SUBSET).select(
        "vec_id", _dbl_vec(F.col("embedding")).alias("vec")
    ).localCheckpoint()  # both join sides — pin or the scan runs twice
    a = sub.select(F.col("vec_id").alias("q_id"), F.col("vec").alias("q"))
    b = sub.select(F.col("vec_id").alias("c_id"), F.col("vec").alias("c"))
    scored = a.join(F.broadcast(b), F.col("q_id") != F.col("c_id")).select(
        "q_id",
        "c_id",
        _cosine(F.col("q"), F.col("c")).alias("cos"),
    )
    wq = Window.partitionBy("q_id").orderBy(
        F.col("cos").desc(), F.col("c_id").asc()
    )
    knn = scored.withColumn("rnk", F.row_number().over(wq)).filter(
        F.col("rnk") <= HUB_K
    )
    nk = (
        sub.select(F.col("vec_id"))
        .join(
            knn.groupBy("c_id").agg(
                F.count(F.lit(1)).alias("n_k")
            ),
            sub["vec_id"] == F.col("c_id"),
            "left",
        )
        .select(
            "vec_id", F.coalesce(F.col("n_k"), F.lit(0)).alias("n_k")
        )
    )
    w_rank = Window.orderBy(F.col("n_k").desc(), F.col("vec_id").asc())
    ranked = nk.withColumn("r", F.row_number().over(w_rank))
    n_sub = HUB_SUBSET
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.max("n_k").cast("bigint").alias("max_n_k"),
        F.sum((F.col("n_k") == 0).cast("bigint"))
        .cast("bigint")
        .alias("n_antihubs"),
        F.round(
            F.sum(
                F.when(F.col("r") <= n_sub // 10, F.col("n_k")).otherwise(
                    0
                )
            ).cast("double")
            * 1_000_000.0
            / F.sum("n_k").cast("double")
        )
        .cast("bigint")
        .alias("top_decile_mass_ppm"),
    )


_HUBNESS_ORACLE = f"""
WITH sub AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < {HUB_SUBSET}
), scored AS MATERIALIZED (
  SELECT a.vec_id AS q_id, b.vec_id AS c_id,
    {_cos_sql('a.embedding', 'b.embedding')} AS cos
  FROM sub a JOIN sub b ON a.vec_id != b.vec_id
), knn AS MATERIALIZED (
  SELECT c_id FROM (
    SELECT c_id,
      row_number() OVER (PARTITION BY q_id
                         ORDER BY cos DESC, c_id ASC) AS rnk
    FROM scored
  ) WHERE rnk <= {HUB_K}
), nk AS MATERIALIZED (
  SELECT s.vec_id, coalesce(k.n_k, 0) AS n_k
  FROM sub s LEFT JOIN (
    SELECT c_id, count(*) AS n_k FROM knn GROUP BY c_id
  ) k ON k.c_id = s.vec_id
), ranked AS (
  SELECT vec_id, n_k,
    row_number() OVER (ORDER BY n_k DESC, vec_id ASC) AS r
  FROM nk
)
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
  CAST(max(n_k) AS BIGINT) AS max_n_k,
  CAST(sum(CASE WHEN n_k = 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_antihubs,
  CAST(round(CAST(sum(CASE WHEN r <= {HUB_SUBSET} // 10 THEN n_k
                           ELSE 0 END) AS DOUBLE) * 1000000.0
             / CAST(sum(n_k) AS DOUBLE)) AS BIGINT)
    AS top_decile_mass_ppm
FROM ranked
"""


#: portable hyperplane-LSH: 32 md5-derived ±1 planes in 8 bands × 4
#: rows; candidates verified at exact integer cosine ≥ 3/10 (the
#: corpus's COSINE_DUP_THRESHOLD as a rational, cleared of the sqrt by
#: cross-multiplying squares). PLSH_REPS=8 giant-bucket guard (the
#: minhash/simhash REPS_PER_BUCKET discipline, tightened for the finer
#: 4-bit buckets).
PLSH_BANDS = 8
PLSH_ROWS = 4
PLSH_SCALE = 1_000_000  # component quantization (float32 → e6 BIGINT)
PLSH_REPS = 8
PLSH_NUM, PLSH_DEN = 3, 10  # cosine >= NUM/DEN


def _plsh_plane_signs(j: int) -> list[int]:
    import hashlib

    return [
        1 if hashlib.md5(f"plane:{j}:{i}".encode()).digest()[0] & 1 else -1
        for i in range(64)
    ]


def q_similarity_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH near-dup pairs with an ENGINE-PORTABLE, ALL-INTEGER
    pipeline — the value-verified twin that graduates the cosine-LSH
    family from rows-only (joining dedup_minhash_portable /
    dedup_simhash_portable / hll_portable_distinct): components quantize
    to e6 BIGINTs (round-half-away, identical in both engines), each
    signature bit is the SIGN OF AN INTEGER SUM (plane components are
    md5-derived ±1, so the dot is Σ ±e_i — exact, no float anywhere),
    banding is 8 bands × 4 bits, and candidates verify at cosine ≥ 3/10
    WITHOUT sqrt: dot > 0 AND den²·dot² ≥ num²·‖a‖²·‖b‖², the squares
    compared in DECIMAL(38,0)/HUGEINT (internal only — outputs are
    BIGINT). Output: verified pairs with their integer dot and squared
    norms, every value replayed bit-for-bit by the oracle.

    Scale shape: signature computation is map-only; the only shuffles
    are the 8 band-bucket joins (PLSH_REPS-guarded: a bucket of size B
    costs O(B·8), never O(B²)) and the bounded verified-pair
    output; quantized vectors ride the joins (64×8 bytes/row)."""
    emb = _emb(spark, sf_dir)

    def idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    # norms computed ONCE per vector here (not per candidate pair), and
    # the 32 signature bits as ONE transform over a 2-D plane literal —
    # a compact expression tree instead of 32 copies of the fold logic
    # (the 32-copy form measured ~2 s of pure plan/codegen overhead)
    q = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * PLSH_SCALE).cast("bigint"),
        ).alias("e"),
    ).withColumn("n2_q", idot(F.col("e"), F.col("e")))
    # Pin the quantized vectors: q is consumed THREE times (the banded
    # signature build and both verify-side broadcasts), and uncached
    # each consumer re-ran the quantize+norm fold over the embeddings
    # scan (r12, guide §2.4). Size class: O(n) rows x 64 BIGINTs (~2x
    # the raw embeddings) — the one unbounded frame this lane pins; no
    # bounded projection exists (every consumer needs the full vector).
    # r13 re-examined the pin mode per VERDICT r12 item 4: a
    # persist(MEMORY_AND_DISK) variant was A/B-measured SLOWER
    # (steady 2.6-3.1 s vs 2.1-2.6 s for the checkpoint — columnar
    # cache encode on 64-element arrays costs more than the local
    # checkpoint write), so the checkpoint stays; on a real cluster
    # where executor loss matters, persist is the right swap and costs
    # ~20% of this lane.
    q = q.localCheckpoint()
    # ONE expr string for the 32×64 ±1 matrix: building it element-wise
    # with F.lit costs 2048 py4j round-trips PER INVOCATION (~2-3 s of
    # pure driver time); a single parsed literal is milliseconds
    planes_lit = F.expr(
        "array({})".format(
            ", ".join(
                "array({})".format(
                    ", ".join(
                        str(s) + "L" for s in _plsh_plane_signs(j)
                    )
                )
                for j in range(PLSH_BANDS * PLSH_ROWS)
            )
        )
    )
    sigbits = F.transform(
        planes_lit,
        lambda p: F.when(idot(F.col("e"), p) >= 0, F.lit("1")).otherwise(
            F.lit("0")
        ),
    )
    banded = (
        q.withColumn("bits", sigbits)
        .select(
            "vec_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(PLSH_BANDS - 1)),
                    lambda b: F.struct(
                        b.alias("band"),
                        F.array_join(
                            F.slice(
                                F.col("bits"), b * PLSH_ROWS + 1, PLSH_ROWS
                            ),
                            "",
                        ).alias("key"),
                    ),
                )
            ).alias("bk"),
        )
        .select("vec_id", "bk.band", "bk.key")
    )
    ranked = banded.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("band", "key").orderBy("vec_id")
        ),
    ).localCheckpoint()  # both candidate-join sides
    reps = ranked.filter(F.col("rnk") <= PLSH_REPS)
    cand = (
        reps.alias("x")
        .join(
            ranked.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("a_id"),
            F.col("y.vec_id").alias("b_id"),
        )
        .distinct()
    )
    ea = q.select(
        F.col("vec_id").alias("a_id"),
        F.col("e").alias("ea"),
        F.col("n2_q").alias("na2_q"),
    )
    eb = q.select(
        F.col("vec_id").alias("b_id"),
        F.col("e").alias("eb"),
        F.col("n2_q").alias("nb2_q"),
    )
    scored = (
        cand.join(F.broadcast(ea), "a_id")
        .join(F.broadcast(eb), "b_id")
        .select(
            "a_id",
            "b_id",
            idot(F.col("ea"), F.col("eb")).alias("dot_q"),
            "na2_q",
            "nb2_q",
        )
    )
    d = F.col("dot_q").cast("decimal(38,0)")
    return scored.filter(
        (F.col("dot_q") > 0)
        & (
            d * d * F.lit(PLSH_DEN * PLSH_DEN)
            >= F.col("na2_q").cast("decimal(38,0)")
            * F.col("nb2_q").cast("decimal(38,0)")
            * F.lit(PLSH_NUM * PLSH_NUM)
        )
    ).select("a_id", "b_id", "dot_q", "na2_q", "nb2_q")


def _plsh_oracle() -> str:
    def bit_sql(j: int) -> str:
        signs = _plsh_plane_signs(j)
        terms = "".join(
            ("+" if s > 0 else "-") + f"e[{i + 1}]"
            for i, s in enumerate(signs)
        )
        return f"CASE WHEN ({terms}) >= 0 THEN '1' ELSE '0' END"

    band_rows = " UNION ALL ".join(
        "SELECT vec_id, e, {b} AS band, {key} AS key FROM q".format(
            b=b,
            key=" || ".join(
                bit_sql(b * PLSH_ROWS + r) for r in range(PLSH_ROWS)
            ),
        )
        for b in range(PLSH_BANDS)
    )
    return f"""
WITH q AS MATERIALIZED (
  SELECT vec_id,
    list_transform(embedding,
      x -> CAST(round(CAST(x AS DOUBLE) * {PLSH_SCALE}) AS BIGINT)) AS e
  FROM embeddings
), banded AS MATERIALIZED ({band_rows}),
ranked AS MATERIALIZED (
  SELECT vec_id, band, key,
    row_number() OVER (PARTITION BY band, key ORDER BY vec_id) AS rnk
  FROM banded
), cand AS MATERIALIZED (
  SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
  FROM ranked x JOIN ranked y
    ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id
  WHERE x.rnk <= {PLSH_REPS}
), scored AS (
  SELECT a_id, b_id,
    CAST(list_sum(list_transform(range(1, 65),
      i -> ea.e[i] * eb.e[i])) AS BIGINT) AS dot_q,
    CAST(list_sum(list_transform(range(1, 65),
      i -> ea.e[i] * ea.e[i])) AS BIGINT) AS na2_q,
    CAST(list_sum(list_transform(range(1, 65),
      i -> eb.e[i] * eb.e[i])) AS BIGINT) AS nb2_q
  FROM cand JOIN q ea ON cand.a_id = ea.vec_id
  JOIN q eb ON cand.b_id = eb.vec_id
)
SELECT a_id, b_id, dot_q, na2_q, nb2_q
FROM scored
WHERE dot_q > 0
  AND CAST(dot_q AS HUGEINT) * dot_q * {PLSH_DEN * PLSH_DEN}
      >= CAST(na2_q AS HUGEINT) * nb2_q * {PLSH_NUM * PLSH_NUM}
"""


QUERIES = {
    "similarity_lsh_portable": q_similarity_lsh_portable,
    "ann_hubness_report": q_ann_hubness_report,
    "matryoshka_dim_quality": q_matryoshka_dim_quality,
    "silhouette_by_label": q_silhouette_by_label,
    "triplet_margin_violations": q_triplet_margin_violations,
    "similarity_filtered_topk": q_similarity_filtered_topk,
    "similarity_topk_cosine_arrow": q_similarity_topk_cosine_arrow,
    "semdedup_embedding": q_semdedup_embedding,
    "similarity_pq_adc_topk": q_similarity_pq_adc_topk,
    "embedding_dim_profile": q_embedding_dim_profile,
    "embedding_centroids": q_embedding_centroids,
    "similarity_topk_cosine": q_similarity_topk_cosine,
    "similarity_cosine_dedup": q_similarity_cosine_dedup,
    "similarity_lsh_topk": q_similarity_lsh_topk,
    "similarity_ivf_topk": q_similarity_ivf_topk,
    "similarity_lsh_near_dup": q_similarity_lsh_near_dup,
    "embedding_stats": q_embedding_stats,
}

ORACLES = {
    "similarity_lsh_portable": _plsh_oracle(),
    "ann_hubness_report": _HUBNESS_ORACLE,
    "matryoshka_dim_quality": _MRL_ORACLE,
    "silhouette_by_label": _SILHOUETTE_ORACLE,
    "triplet_margin_violations": _TRIPLET_ORACLE,
    "similarity_filtered_topk": _FILTERED_TOPK_ORACLE,
    "embedding_centroids": _CENTROID_ORACLE,
    "semdedup_embedding": _SEMDEDUP_ORACLE,
    "similarity_pq_adc_topk": _PQ_ORACLE,
    "embedding_dim_profile": _DIM_PROFILE_ORACLE,
    "similarity_topk_cosine": f"""
WITH scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
    {_cos_sql('q.embedding', 'c.embedding')} AS cosine
  FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}
), ranked AS (
  SELECT q_id, c_id, cosine,
    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT q_id, rank, c_id, cosine FROM ranked WHERE rank <= {TOP_K}
""",
    "similarity_cosine_dedup": f"""
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
  {_cos_sql('a.embedding', 'b.embedding')} AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE a.vec_id < 100 AND b.vec_id < 100
  AND {_cos_sql('a.embedding', 'b.embedding')} >= {COSINE_DUP_THRESHOLD}
""",
    "embedding_stats": f"""
WITH n AS (
  SELECT label,
    CAST(round(sqrt({_DOT.format(a='embedding', b='embedding')}) * 1000000.0) AS BIGINT) AS norm_mu
  FROM embeddings
)
SELECT label, count(*) AS n_vecs,
  sum(norm_mu) / 1000000.0 / count(*) AS mean_norm
FROM n
GROUP BY label
""",
}
