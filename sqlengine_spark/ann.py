"""Approximate nearest-neighbor similarity join via random-hyperplane
LSH — the 100 TB scale path that l_sim_join_threshold/l_knn_label_vote
document (their 500-row inputs justify brute force; this module is the
implementation you switch to when the table stops being broadcastable).

Algorithm (SimHash/random projection, Charikar 2002):
1. take P deterministic Rademacher (±1) hyperplanes derived from md5
   (``md5_planes`` — the same planes on every executor, every run and
   in the DuckDB oracle);
2. signature bit p = sign(v · plane_p); P bits per vector, computed
   with the same JVM-side double dot product as the exact operators;
3. split the signature into ``bands`` bands of ``rows_per_band`` bits;
   two vectors become candidates iff they agree on ALL bits of at least
   one band: P(candidate) = 1 - (1 - p^r)^b with p = 1 - angle/pi —
   steep around the target cosine, so distant pairs are pruned without
   ever meeting;
4. exact-verify candidates with the true dot product and the caller's
   threshold — output is a SUBSET of the brute-force join with recall
   1-(1-p^r)^b (≥ 0.999 at cos 0.95 with the default 16 × 8 bands).

Every function here reads ``vec_id`` and ``embedding`` columns.

Scale shape: one broadcast of the planes, one shuffle keyed on
(band, band-signature) — bucket sizes follow data density, never N².
Recall/pruning are asserted on planted near-duplicates in
tests/test_ann.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sqlengine_spark.functions import vdot


def md5_planes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic Rademacher (±1) hyperplanes derived from md5:
    component (p, j) is +1.0 iff the first hex char of
    ``md5("{p}_{j}")`` is >= '8' (8 of 16 hex digits — an unbiased
    coin), with p 0-based and j 1-based to match SQL array indexing.

    Sign-projection LSH only needs a symmetric zero-mean component
    distribution; Rademacher entries are the classical SimHash choice
    (Charikar 2002 uses Gaussian, Achlioptas 2001 shows ±1 suffices for
    the same concentration bounds). The payoff of deriving them from
    md5 instead of a seeded Gaussian PRNG: md5 is identical in Python's
    hashlib, Spark's F.md5 and DuckDB's md5(), so a SQL oracle can
    replay the EXACT plane set and hence the exact banding — the
    l_sim_search_ivf / l_dedup_simhash graduation convention."""
    import hashlib

    return [
        [
            1.0
            if hashlib.md5(f"{p}_{j}".encode()).hexdigest()[0] >= "8"
            else -1.0
            for j in range(1, dim + 1)
        ]
        for p in range(n_planes)
    ]


def lsh_sim_join(
    vectors: DataFrame,
    threshold: float,
    bands: int = 16,
    rows_per_band: int = 8,
) -> DataFrame:
    """All pairs (a < b) with cosine ≥ threshold (unit vectors), found
    via banded hyperplane LSH + exact verification. Returns
    (va, vb, sim) where sim is the RAW double dot product.

    The planes are ``md5_planes(bands * rows_per_band, dim)``, with dim
    the length of the first vector, so a DuckDB oracle can replay the
    banding bit-for-bit (l_sim_join_lsh)."""
    spark = vectors.sparkSession
    # zip_with pads the shorter array with nulls, so planes of another
    # length would yield NULL signature bits: size them to the data.
    first = vectors.select(F.size("embedding").alias("n")).first()
    dim = first["n"] if first is not None else 0
    plane_vecs = md5_planes(bands * rows_per_band, dim)
    planes = spark.createDataFrame(
        [(p, vec) for p, vec in enumerate(plane_vecs)],
        "plane_id int, pvec array<double>",
    )
    v = vectors.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("vec"))

    # signature bits: broadcast the planes, one dot per (vector, plane)
    bits = (
        v.crossJoin(F.broadcast(planes))
        .select(
            "vid",
            "plane_id",
            F.when(vdot(F.col("vec"), F.col("pvec")) >= 0, F.lit("1"))
            .otherwise(F.lit("0"))
            .alias("bit"),
        )
        .groupBy("vid")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("plane_id", "bit"))
                    ),
                    lambda s: s["bit"],
                ),
            ).alias("sig")
        )
    )
    band_rows = bits.select(
        "vid",
        F.posexplode(
            F.array(
                *[
                    F.substring("sig", b * rows_per_band + 1, rows_per_band)
                    for b in range(bands)
                ]
            )
        ).alias("band", "bsig"),
    )
    a = band_rows.select(F.col("vid").alias("va"), "band", "bsig")
    b = band_rows.select(F.col("vid").alias("vb"), "band", "bsig")
    cands = (
        a.join(b, ["band", "bsig"])
        .filter(F.col("va") < F.col("vb"))
        .select("va", "vb")
        .distinct()
    )
    # two-stage verification. Stage 1: Arrow-batched numpy row-wise dot
    # PRE-FILTERS candidates at threshold - 1e-6 — the GEMM-vs-sequential
    # associativity error is ~1e-13 for unit vectors, so the margin can
    # drop no true pair, and it turns millions of interpreted
    # higher-order-function folds (the dominant cost when a weak
    # threshold makes most pairs candidates — measured 30.6 s -> see
    # bench.py note) into one vectorized einsum per batch. Stage 2:
    # exact JVM vdot on the survivors ONLY, so every EMITTED sim is the
    # bit-pinned sequential double fold — callers' downstream oracles
    # (l_dedup_embedding) never see a numpy-ordered sum.
    va = v.select(F.col("vid").alias("va"), F.col("vec").alias("vec_a"))
    vb = v.select(F.col("vid").alias("vb"), F.col("vec").alias("vec_b"))
    paired = cands.join(va, "va").join(vb, "vb")

    def dot_prefilter(batches):
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            ma = np.array(list(pdf["vec_a"]), dtype=np.float64)
            mb = np.array(list(pdf["vec_b"]), dtype=np.float64)
            keep = np.einsum("ij,ij->i", ma, mb) >= threshold - 1e-6
            yield pdf.loc[keep, ["va", "vb"]]

    survivors = paired.mapInPandas(dot_prefilter, "va long, vb long")
    return (
        survivors.join(va, "va")
        .join(vb, "vb")
        .withColumn("sim", vdot(F.col("vec_a"), F.col("vec_b")))
        .filter(F.col("sim") >= threshold)
        .select("va", "vb", "sim")
    )


def lit_vec(xs: list[float]) -> Column:
    """A driver-side vector as an array column of double literals."""
    return F.array(*[F.lit(x) for x in xs])


def ivf_centroids(vectors: DataFrame) -> list[tuple[int, list[float]]]:
    """The IVF coarse centroids as ``(cid, vector)``: the 16 rows with
    the smallest ``md5(vec_id)``, numbered 0-15 in that order — one
    TakeOrdered pass, no k-means iterations, fully reproducible; md5
    rather than xxhash64 so a DuckDB oracle replays the IDENTICAL
    centroid set (the l_dedup_simhash graduation convention). Bounded
    driver state: 16 vectors."""
    rows = (
        vectors.select(
            "vec_id", "embedding", F.md5(F.col("vec_id").cast("string")).alias("h")
        )
        .orderBy("h", "vec_id")
        .limit(16)
        .collect()
    )
    return [(ci, [float(x) for x in r["embedding"]]) for ci, r in enumerate(rows)]


def nearest_centroid(
    vec: Column, centroids: list[tuple[int, list[float]]]
) -> Column:
    """The cid of the centroid with the largest dot product with
    ``vec``: a JVM-side argmax, array_max over struct<d, cid> with the
    centroids as literals, so ties go to the larger cid. Assignment is
    a map-only pass with NO shuffle; on a real deployment it is
    computed once at ingest and stored as a partition column."""
    return F.array_max(
        F.array(
            *[
                F.struct(vdot(vec, lit_vec(cvec)).alias("d"), F.lit(ci).alias("cid"))
                for ci, cvec in centroids
            ]
        )
    )["cid"]


def probe_cids(
    centroids: list[tuple[int, list[float]]], qvec: list[float], n_probe: int
) -> list[int]:
    """The ``n_probe`` cids nearest to ``qvec``, nearest first — driver
    side, with ``nearest_centroid``'s tie rule. Python's left-fold float
    sum is the same IEEE sequence as ``vdot`` and the oracles' ordered
    SUM, so probe sets are engine-identical."""
    return [
        ci
        for _, ci in sorted(
            ((sum(a * b for a, b in zip(cvec, qvec)), ci) for ci, cvec in centroids),
            reverse=True,
        )[:n_probe]
    ]


def ivf_topk(vectors: DataFrame, query_id: int, n_probe: int) -> DataFrame:
    """IVF (inverted-file) approximate top-10: assign every vector to its
    nearest of 16 coarse centroids, then answer the query by scanning
    only the ``n_probe`` buckets whose centroids are nearest to the
    query vector. With ``n_probe == 16`` the result is EXACTLY the
    brute-force top-10 (asserted in tests/test_ann.py). Both sizes are
    fixed: l_sim_search_ivf's oracle hard-codes them.

    Centroids are ``ivf_centroids``, assignment ``nearest_centroid``
    and the probe set ``probe_cids``. Scale shape: the probe filter
    cuts the scan to ~n_probe/16 of the table before the TakeOrdered
    top-k; with the assignment stored as a partition column, the probe
    is a partition-pruned scan.
    """
    from sqlengine_spark.functions import dround

    k = 10
    centroids = ivf_centroids(vectors)
    v = vectors.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("vec"))
    qrow = v.filter(F.col("vid") == query_id).first()
    if qrow is None:
        raise ValueError(f"ivf_topk: query id {query_id} not found")
    qvec = [float(x) for x in qrow["vec"]]
    best_cid = nearest_centroid(F.col("vec"), centroids)
    return (
        v.withColumn("cid", best_cid)
        .filter(F.col("cid").isin(probe_cids(centroids, qvec, n_probe)))
        .filter(F.col("vid") != query_id)
        .select(
            F.col("vid").alias("vec_id"),
            dround(vdot(F.col("vec"), lit_vec(qvec)), 6).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(k)
    )


def pq_topk(vectors: DataFrame, query_id: int) -> DataFrame:
    """PRODUCT-QUANTIZATION approximate top-100 (Jégou et al.'s PQ): the
    memory-compression path of the ANN family — vectors are stored as
    ``m`` = 16 sub-space code IDs (16 codes × 4 bits of codebook = 8
    bytes vs 256 bytes of float32 at dim 64, 32×), and queries score
    against codes via an ADC lookup table without ever touching raw
    vectors. Every size below is fixed: _pq_oracle (l_sim_search_pq)
    unrolls the same sample, sub-vector width and iteration count.

    Training: a deterministic sample (smallest ``md5(id)`` — switched
    from xxhash64 in round 10 so the DuckDB oracle replays the
    IDENTICAL sample, the ivf_topk graduation convention) of
    ``n_train`` vectors; per sub-space k-means with fixed init (first
    ``ksub`` sample rows) and a fixed iteration count; after EVERY
    iteration the centroids are half-away quantized to 12 dp (the
    l_kmeans_assign iterated-value pin), so the next iteration's
    assignments — and ultimately codes, LUT and scores — compare
    bit-identical doubles cross-engine. No RNG anywhere; run-to-run
    bit-determinism asserted in tests/test_ann.py. Codebooks are
    m·ksub·(dim/m) floats of bounded driver state (the l_kmeans_assign
    sanction). Within-cluster means use numpy's pairwise summation vs
    the oracle's AVG — both land on the same 12-dp grid (ulp noise
    ~1e-16 on unit-scale values vs the 5e-13 grid half-width; the same
    tolerance argument l_kmeans_assign graduated under, stress-checked
    at sf0.1).

    Encoding: ONE Arrow-batched mapInPandas pass; each batch argmins
    against the broadcast codebooks with a vectorized numpy distance —
    at ingest scale this is the one-off compression pass whose output
    (the code table) is what a 100 TB deployment actually stores.

    Query (ADC): the per-sub-space lookup table query·centroid is
    m×ksub driver-side scalars, folded into the plan as LITERALS; the
    approximate score is a pure-codegen sum of array lookups over the
    code table — map-only + TakeOrdered, no shuffle, no Python on the
    query path."""
    import numpy as np
    import pandas as pd

    from sqlengine_spark.functions import dround

    k, m, ksub, n_train, kmeans_iters = 100, 16, 16, 256, 3
    v = vectors.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("vec"))
    train_rows = (
        v.select("vid", "vec", F.md5(F.col("vid").cast("string")).alias("h"))
        .orderBy("h", "vid")
        .limit(n_train)
        .collect()
    )
    X = np.array([[float(x) for x in r["vec"]] for r in train_rows], dtype=np.float64)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"pq_topk: dim {dim} not divisible by m {m}")
    dsub = dim // m

    def q12(a):
        # half-away-from-zero 12-dp quantizer == ROUND(x*1e12)/1e12 in
        # DuckDB and dround(x, 12) in Spark — the iterated-value pin
        y = a * 1e12
        return np.copysign(np.floor(np.abs(y) + 0.5), y) / 1e12

    books = []  # m arrays of (ksub, dsub)
    for j in range(m):
        sub = X[:, j * dsub : (j + 1) * dsub]
        cents = sub[:ksub].copy()  # deterministic init: first ksub samples
        for _ in range(kmeans_iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for c in range(ksub):
                mask = assign == c
                if mask.any():
                    cents[c] = q12(sub[mask].mean(0))
        books.append(cents)

    def encode(batches):
        for pdf in batches:
            V = np.array(pdf["vec"].tolist(), dtype=np.float64)
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for j in range(m):
                sub = V[:, j * dsub : (j + 1) * dsub]
                d2 = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(-1)
                codes[:, j] = d2.argmin(1)
            yield pd.DataFrame({"vid": pdf["vid"], "codes": list(codes.tolist())})

    coded = v.mapInPandas(encode, "vid long, codes array<int>")

    qrow = v.filter(F.col("vid") == query_id).first()
    if qrow is None:
        raise ValueError(f"pq_topk: query id {query_id} not found")
    q = np.array([float(x) for x in qrow["vec"]], dtype=np.float64)
    # ADC table: inner product of the query sub-vector with every centroid
    lut = [
        [float(q[j * dsub : (j + 1) * dsub] @ books[j][c]) for c in range(ksub)]
        for j in range(m)
    ]
    score = sum(
        F.element_at(
            F.array(*[F.lit(x) for x in lut[j]]),
            F.element_at("codes", j + 1) + 1,
        )
        for j in range(m)
    )
    return (
        coded.filter(F.col("vid") != query_id)
        .select(F.col("vid").alias("vec_id"), dround(score, 6).alias("score_pq"))
        .orderBy(F.desc("score_pq"), "vec_id")
        .limit(k)
    )
