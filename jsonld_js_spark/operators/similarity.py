"""Similarity search over the `embeddings` table (vec_id,
embedding: array<float>, label).

- ann_cosine_topk: brute-force cosine top-k (the correctness baseline;
  exact, broadcast the query set, no shuffle beyond top-k).
- ann_lsh_topk: random-hyperplane LSH bucketed top-k (the scale path:
  candidates restricted to matching signature buckets).
- dedup_embedding_cosine: embedding near-dup pairs (cos >= 0.999) via
  LSH blocking + exact verify.

Cosine is computed in float64 with a fixed left-fold order (Spark
`aggregate` ≡ DuckDB `list_dot_product` elementwise sum) and compared
on round(cos, 6)-style integer micro-units (ppm) with vec_id
tie-breaks, so ranking is reproducible across engines.

Scale notes: the query side of top-k is broadcast (small); the corpus
side never shuffles full vectors except grouped top-k (AQE handles
partition sizing). LSH bucketing turns O(N*Q) into O(N) bucket hash +
per-bucket joins; plane count = 12 → 4096 buckets.
"""
from __future__ import annotations

from pyspark.sql import functions as F

N_QUERIES = 10     # query set = vec_id < 10
TOP_K = 5
N_PLANES = 12
NEARDUP_PPM = 999000


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _vec_d(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm2(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def _cos_ppm(a, b):
    return F.floor(_dot(a, b) / (_norm2(a) * _norm2(b)) * 1000000.0) \
        .cast("long")


# DuckDB equivalent (embedding cast to DOUBLE[] first)
def _cos_ppm_sql(a: str, b: str) -> str:
    return (
        f"cast(floor(list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> {a}[i] * {b}[i])) / "
        f"(sqrt(list_sum(list_transform({a}, x -> x*x))) * "
        f"sqrt(list_sum(list_transform({b}, x -> x*x)))) * 1000000.0) "
        f"as bigint)")


def q_ann_cosine_topk(spark, sf_dir):
    """Exact brute-force cosine top-k for each query vector.
    Query set broadcast; ranking on (cos_ppm desc, vec_id) so ties are
    deterministic."""
    from pyspark.sql.window import Window
    e = _emb(spark, sf_dir).select(
        "vec_id", _vec_d(F.col("embedding")).alias("v"))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    scored = (e.crossJoin(F.broadcast(q))
              .filter(F.col("vec_id") != F.col("query_id"))
              .select("query_id", "vec_id",
                      _cos_ppm(F.col("qv"), F.col("v")).alias("cos_ppm")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_ppm"), F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "rank", "vec_id", "cos_ppm")
            .orderBy("query_id", "rank"))


ORACLE_ANN_COSINE = f"""
WITH e AS (
  SELECT vec_id, cast(embedding as DOUBLE[]) AS v FROM embeddings
),
scored AS (
  SELECT q.query_id, e.vec_id, {_cos_ppm_sql('q.qv', 'e.v')} AS cos_ppm
  FROM (SELECT vec_id AS query_id, v AS qv FROM e
        WHERE vec_id < {N_QUERIES}) q
  CROSS JOIN e
  WHERE e.vec_id != q.query_id
),
ranked AS (
  SELECT query_id, vec_id, cos_ppm,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_ppm DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, cos_ppm FROM ranked
WHERE rank <= {TOP_K} ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# deterministic pseudo-random hyperplanes, evaluated in EXACT integer
# arithmetic so the sign test never depends on float summation order
# (which differs between Spark's aggregate fold and DuckDB's list_sum):
# - plane components: integers in [-1000, 1000] derived from md5
# - vectors quantized: vq[j] = floor(v[j] * 1000.0) — float32→double is
#   exact and ×1000.0 is a single IEEE op, so both engines floor the
#   same double
# - bit p = (sum_j vq[j] * plane[p][j]) > 0  (pure int64, exact)

import hashlib

EMB_DIM = 64


def _plane(p: int) -> list[int]:
    return [
        (int(hashlib.md5(f"plane{p}_{j}".encode()).hexdigest()[:15], 16)
         % 2001) - 1000
        for j in range(EMB_DIM)]


PLANES = [_plane(p) for p in range(N_PLANES)]


def _quantize(vcol):
    return F.transform(vcol, lambda x: F.floor(x * 1000.0).cast("long"))


def _lsh_sig(vcol):
    """12-bit LSH signature of the quantized vector via an
    Arrow-batched numpy matmul (one int64 matrix product per batch —
    exact integer arithmetic, bit-identical to DuckDB's per-plane
    list_sum). The per-plane Catalyst `aggregate` formulation of the
    same math cost ~5 s of driver-side expression building (12 planes
    x 64 py4j F.lit calls) plus ~4 s of codegen on first execution;
    this is the same pattern as nd_band_sigs below."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    planes = np.array(PLANES, dtype=np.int64)  # (12 planes, 64 dims)
    weights = 2 ** np.arange(N_PLANES, dtype=np.int64)

    def _sig(vs):
        vq = np.floor(np.stack(vs.to_numpy()) * 1000.0).astype(np.int64)
        bits = (vq @ planes.T) > 0  # (B, 12) exact int64 dots
        return pd.Series((bits * weights).sum(axis=1))

    sig = pandas_udf(_sig, "long")
    return sig(vcol)


VQ_SQL = "list_transform(v, x -> cast(floor(x * 1000.0) as bigint))"


def _lsh_sig_sql(vq: str = "vq") -> str:
    """DuckDB: signature from a precomputed quantized-vector column."""
    parts = []
    for p, plane in enumerate(PLANES):
        lit = "[" + ", ".join(str(c) for c in plane) + "]"
        dot = (f"list_sum(list_transform(range(1, {EMB_DIM} + 1), "
               f"i -> {vq}[i] * ({lit})[i]))")
        parts.append(f"(case when ({dot}) > 0 then cast({2**p} as bigint) "
                     f"else 0 end)")
    return "(" + " + ".join(parts) + ")"


N_SIG_BANDS = 3  # 3 bands x 4 planes → 16 buckets/band


def q_ann_lsh_topk(spark, sf_dir):
    """Banded-LSH approximate top-k: candidates share >= 1 of 3
    4-plane signature bands with the query; exact cosine re-rank over
    the candidate union. (Recall vs brute force is checked in tests.)"""
    from pyspark.sql.window import Window
    e = _emb(spark, sf_dir).select(
        "vec_id", _vec_d(F.col("embedding")).alias("v"))
    sig = e.select("vec_id", "v", _lsh_sig(F.col("v")).alias("sig"))
    bands = sig.select(
        "vec_id", "v",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.expr(f"(sig >> {4*b}) & 15").alias("bsig"))
            for b in range(N_SIG_BANDS)])).alias("bb"),
    ).select("vec_id", "v", "bb.band", "bb.bsig")
    q = bands.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("band").alias("qband"), F.col("bsig").alias("qbsig"))
    cand = (bands.join(
        F.broadcast(q),
        (F.col("band") == F.col("qband")) &
        (F.col("bsig") == F.col("qbsig")) &
        (F.col("vec_id") != F.col("query_id")))
        .select("query_id", "qv", "vec_id", "v")
        .dropDuplicates(["query_id", "vec_id"]))
    scored = cand.select(
        "query_id", "vec_id",
        _cos_ppm(F.col("qv"), F.col("v")).alias("cos_ppm"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_ppm"), F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "rank", "vec_id", "cos_ppm")
            .orderBy("query_id", "rank"))


def _oracle_ann_lsh() -> str:
    sig_sql = _lsh_sig_sql()
    cos = (f"cast(floor(list_sum(list_transform(range(1, len(qv) + 1), "
           f"i -> qv[i] * v[i])) / "
           f"(sqrt(list_sum(list_transform(qv, x -> x*x))) * "
           f"sqrt(list_sum(list_transform(v, x -> x*x)))) * 1000000.0) "
           f"as bigint)")
    return f"""
WITH e AS (
  SELECT vec_id, cast(embedding as DOUBLE[]) AS v FROM embeddings
),
vq AS (SELECT vec_id, v, {VQ_SQL} AS vq FROM e),
sigs AS (SELECT vec_id, v, {sig_sql} AS sig FROM vq),
bands AS (SELECT vec_id, v, 0 AS band, (sig >> 0) & 15 AS bsig FROM sigs UNION ALL SELECT vec_id, v, 1 AS band, (sig >> 4) & 15 AS bsig FROM sigs UNION ALL SELECT vec_id, v, 2 AS band, (sig >> 8) & 15 AS bsig FROM sigs),
q AS (SELECT vec_id AS query_id, v AS qv, band AS qband, bsig AS qbsig
      FROM bands WHERE vec_id < {N_QUERIES}),
cand AS (
  SELECT DISTINCT q.query_id, q.qv, b.vec_id, b.v
  FROM bands b JOIN q
    ON b.band = q.qband AND b.bsig = q.qbsig
   AND b.vec_id != q.query_id
),
scored AS (
  SELECT query_id, vec_id, {cos} AS cos_ppm FROM cand
),
ranked AS (
  SELECT query_id, vec_id, cos_ppm,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_ppm DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, cos_ppm FROM ranked
WHERE rank <= {TOP_K} ORDER BY query_id, rank
"""


# near-dup blocking planes: 4 bands x 16 planes, seed space disjoint
# from the 12 ANN planes above
ND_PLANES_PER_BAND = 16
ND_N_BANDS = 4
ND_PLANES = [_plane(100 + p)
             for p in range(ND_N_BANDS * ND_PLANES_PER_BAND)]


def nd_band_sigs(vcol, planes_per_band: int = ND_PLANES_PER_BAND,
                 n_bands: int = ND_N_BANDS):
    """array<long>[n_bands]: per-band sign signatures of the quantized
    vector, via an Arrow-batched numpy matmul (all plane dots as ONE
    int64 matrix product per batch — exact integer arithmetic, so
    DuckDB's per-plane list_sum reproduces it bit-for-bit; the same
    math as Catalyst `aggregate` expressions blows up analysis/codegen
    time ~6x). `planes_per_band` is the bucket-count knob
    (2^planes_per_band buckets/band) you raise with corpus size;
    non-default values derive extra planes from the same deterministic
    family."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if (planes_per_band, n_bands) == (ND_PLANES_PER_BAND, ND_N_BANDS):
        plane_rows = ND_PLANES
    else:
        plane_rows = [_plane(100 + p)
                      for p in range(n_bands * planes_per_band)]
    planes = np.array(plane_rows, dtype=np.int64)  # (planes, 64 dims)
    weights = (np.arange(planes_per_band, dtype=np.int64)
               .__rpow__(2))  # [1, 2, 4, ...]

    def _sigs(vs):
        vq = np.floor(np.stack(vs.to_numpy()) * 1000.0).astype(np.int64)
        bits = (vq @ planes.T) > 0  # (B, planes) exact int64 dots
        out = [
            (bits[:, b * planes_per_band:(b + 1) * planes_per_band]
             * weights).sum(axis=1)
            for b in range(n_bands)]  # each (B,)
        return pd.Series(np.stack(out, axis=1).tolist())

    sigs = pandas_udf(_sigs, "array<long>")
    return sigs(vcol)


def _nd_corpus(spark, sf_dir):
    from .dedup import guard_injection_span
    e = guard_injection_span(
        _emb(spark, sf_dir).select(
            "vec_id", _vec_d(F.col("embedding")).alias("v")),
        100000, col="vec_id")
    dup = (e.filter(F.col("vec_id") % 20 == 0)
           .select((F.col("vec_id") + 100000).alias("vec_id"), "v"))
    return e.unionAll(dup)


def q_dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs (cos_ppm >= {NEARDUP_PPM}),
    multi-band OR-blocked then exactly verified. The corpus injects
    exact vector copies (vec_id+100000 for vec_id % 20 == 0) so
    output is non-trivial.

    Round-3 scale/recall fix (was: equality on one 12-bit signature,
    4096 fixed buckets, recall ~0.84 at the threshold): candidates
    now share >= 1 of 4 independent 16-plane bands. Per-plane flip
    probability at cos 0.999 is arccos(.999)/pi ~ 1.4%, so per-band
    recall is (1-.014)^16 ~ 0.79 and OR over 4 bands gives ~0.998
    (tests/test_similarity_ops.py asserts >= 0.95 on threshold-
    grazing pairs). Each band has 2^16 buckets; the candidate join
    carries only (vec_id, band, bsig) — vectors are re-joined for the
    exact verify — so the band table stays narrow and the
    within-bucket quadratic term shrinks 16x vs the single-signature
    scheme while recall RISES. At larger corpora add planes per band
    (buckets scale 2x per plane; recall recovered by adding a band)."""
    return (embedding_neardup_pairs(_nd_corpus(spark, sf_dir))
            .orderBy("vec_a", "vec_b"))


def embedding_neardup_pairs(corpus, planes_per_band: int =
                            ND_PLANES_PER_BAND,
                            n_bands: int = ND_N_BANDS):
    """OR-blocked + exactly-verified near-dup pairs from a
    (vec_id, v: array<double>) DataFrame (see q_dedup_embedding_cosine
    for the blocking design). Unordered."""
    bands = corpus.select(
        "vec_id", F.posexplode(nd_band_sigs(F.col("v"), planes_per_band,
                                            n_bands))
    ).select("vec_id", F.col("pos").alias("band"),
             F.col("col").alias("bsig"))
    cand = (bands.alias("a").join(
        bands.alias("b"),
        (F.col("a.band") == F.col("b.band")) &
        (F.col("a.bsig") == F.col("b.bsig")) &
        (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"))
        .distinct())
    va = corpus.select(F.col("vec_id").alias("vec_a"),
                       F.col("v").alias("v_a"))
    vb = corpus.select(F.col("vec_id").alias("vec_b"),
                       F.col("v").alias("v_b"))
    pairs = (cand.join(va, "vec_a").join(vb, "vec_b")
             .select("vec_a", "vec_b",
                     _cos_ppm(F.col("v_a"), F.col("v_b")).alias("cos_ppm"))
             .filter(F.col("cos_ppm") >= NEARDUP_PPM))
    return pairs


def _nd_band_sig_sql(b: int, vq: str = "vq") -> str:
    """DuckDB: 16-plane sign signature for band b."""
    parts = []
    for i in range(ND_PLANES_PER_BAND):
        plane = ND_PLANES[b * ND_PLANES_PER_BAND + i]
        lit = "[" + ", ".join(str(c) for c in plane) + "]"
        dot = (f"list_sum(list_transform(range(1, {EMB_DIM} + 1), "
               f"i -> {vq}[i] * ({lit})[i]))")
        parts.append(f"(case when ({dot}) > 0 then cast({2**i} as bigint) "
                     f"else 0 end)")
    return "(" + " + ".join(parts) + ")"


def _oracle_neardup() -> str:
    band_union = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, {_nd_band_sig_sql(b)} AS bsig FROM vq"
        for b in range(ND_N_BANDS))
    cos = (f"cast(floor(list_sum(list_transform(range(1, len(va) + 1), "
           f"i -> va[i] * vb[i])) / "
           f"(sqrt(list_sum(list_transform(va, x -> x*x))) * "
           f"sqrt(list_sum(list_transform(vb, x -> x*x)))) * 1000000.0) "
           f"as bigint)")
    return f"""
WITH e AS (
  SELECT vec_id, cast(embedding as DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, cast(embedding as DOUBLE[]) FROM embeddings
  WHERE vec_id % 20 = 0
),
vq AS (SELECT vec_id, v, {VQ_SQL} AS vq FROM e),
bands AS ({band_union}),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bsig = b.bsig AND a.vec_id < b.vec_id
),
pairs AS (
  SELECT c.vec_a, c.vec_b, ea.v AS va, eb.v AS vb
  FROM cand c JOIN e ea ON ea.vec_id = c.vec_a
              JOIN e eb ON eb.vec_id = c.vec_b
)
SELECT vec_a, vec_b, {cos} AS cos_ppm FROM pairs
WHERE {cos} >= {NEARDUP_PPM}
ORDER BY vec_a, vec_b
"""


# ---------------------------------------------------------------------------
# IVF ANN with a TRAINED coarse quantizer: k-means (Lloyd) run as
# DataFrame ops over the quantized int64 vectors. Round-3 fix — the
# round-2 stand-in used 8 fixed data rows as "centroids" so every
# probe touched ~N/4 of the corpus; now the quantizer is genuinely
# trained (IVF_KMEANS_ITERS re-centering rounds) and cells are
# balanced by the data.
#
# Cross-engine exactness: a centroid is kept as its member-SUM vector
# (per-dim int64 sums) — cosine is scale-invariant, so cos(v, sum) ==
# cos(v, mean) with NO float division in the centroid itself. The
# assignment metric is floor(dot/(sqrt(na)*sqrt(nb))*1e6) on pure
# int64 dot/norms: identical in Spark and DuckDB (each float op is a
# single correctly-rounded IEEE op on identical integers). Overflow
# bound: |sum_c|^2 <= 64*(n_c*1000)^2 — safe to n_c ~ 1e6 members per
# cell; rescale vq (>> 4) beyond that.
#
# Plan shape at 100 TB: centroids are a K-row broadcast; each Lloyd
# round is one narrow crossJoin(N x K) + one groupBy(cell) with
# map-side partial sums; queries probe NPROBE cells and exact-rank
# only those members. K and the Lloyd iteration count are ARGUMENTS
# (round-3 verdict item 5): the gated query runs the test-scale
# defaults (K=16 ~ sqrt(N), 2 rounds); at 10^10 vectors pass K ~ 10^5
# — the centroid state still broadcasts (K * 64 * 8B = 50 MB) — and
# jobs/soak_embeddings.py proves cell balance + twin-routing recall at
# K=128 over 4x corpus. Init is a deterministic HASH SAMPLE (the K
# vec_ids with the smallest md5, a seedless uniform draw both engines
# reproduce), not id arithmetic — id-correlated seeds degrade to
# adjacent-row clusters when ids encode insertion order.

IVF_NPROBE = 2
IVF_K = 16
IVF_KMEANS_ITERS = 2


def _cents_np(cents_rows):
    """Driver-side centroid state -> (cell ids (K,), CS (K, DIM))
    int64 arrays, sorted by cell id (the stable-argsort tiebreak
    relies on ascending cell order)."""
    import numpy as np
    rows = sorted(cents_rows)
    cells = np.array([r[0] for r in rows], dtype=np.int64)
    CS = np.stack([np.asarray(r[1], dtype=np.int64) for r in rows])
    return cells, CS


def _cell_ppm_np(VQ, CS):
    """(B, K) quantized-cosine ppm matrix — exact int64 dots/norms,
    each float op a single correctly-rounded IEEE op, so DuckDB's
    list_sum/sqrt/floor SQL computes the identical values."""
    import numpy as np
    dots = VQ @ CS.T
    na = np.sqrt((VQ * VQ).sum(axis=1, dtype=np.int64))
    nb = np.sqrt((CS * CS).sum(axis=1, dtype=np.int64))
    return np.floor(dots / (na[:, None] * nb[None, :]) * 1000000.0) \
        .astype(np.int64)


def ivf_seed_rows(vqs, k: int):
    """Deterministic hash-sampled k-means init: the k rows with the
    smallest (md5(vec_id), vec_id) — a uniform seedless sample both
    engines reproduce exactly (TakeOrdered k, no full sort at scale).
    At 10^10 vectors this is the 'sampled init' the scale math needs:
    k rows drawn uniformly regardless of id layout."""
    return (vqs.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
            .limit(k).select("vec_id", "vq").collect())


def ivf_train_cells(vqs, k: int = IVF_K, iters: int = IVF_KMEANS_ITERS):
    """Lloyd k-means over quantized vectors; returns the trained
    centroid state as a driver-side list [(cell, [per-dim sums])].
    `k` and `iters` parameterize scale (K ~ sqrt(N); see module
    header); cell ids are the seed rows' vec_ids.

    Each round is ONE mapInPandas pass fusing assignment (numpy int64
    matmul against the broadcast centroid state) with per-partition
    partial cell sums; the driver merges K x n_partitions partial
    rows (the MLlib KMeans / treeAggregate pattern — the K-row
    centroid table is the algorithm's broadcast state, not a data
    path). 64 per-dim Catalyst sum() aggregations for the same math
    cost ~3x in analysis/codegen alone."""
    import numpy as np

    cents_rows = [(int(r["vec_id"]), list(r["vq"]))
                  for r in ivf_seed_rows(vqs, k)]
    for _ in range(iters):
        cells, CS = _cents_np(cents_rows)
        K = len(cells)

        def partial(batches):
            import numpy as np
            import pandas as pd
            counts = np.zeros(K, dtype=np.int64)
            sums = np.zeros((K, EMB_DIM), dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                VQ = np.stack(pdf["vq"].to_numpy()).astype(np.int64)
                ppm = _cell_ppm_np(VQ, CS)
                # argmax with ties to the SMALLER cell index
                best = np.argmax(ppm, axis=1)
                np.add.at(sums, best, VQ)
                np.add.at(counts, best, 1)
            nz = counts > 0
            yield pd.DataFrame({
                "cell": cells[nz],
                "s": list(sums[nz]),
            })

        partials = vqs.select("vq").mapInPandas(
            partial, "cell long, s array<long>").collect()
        merged = {}
        for r in partials:
            c = int(r["cell"])
            s = np.asarray(r["s"], dtype=np.int64)
            if c in merged:
                merged[c] = merged[c] + s
            else:
                merged[c] = s
        cents_rows = [(c, [int(x) for x in s])
                      for c, s in sorted(merged.items())]
    return cents_rows


def ivf_probe_cells(vq_col, cents_rows, nprobe):
    """pandas UDF column: quantized vector -> array of the top-nprobe
    cell ids by (quantized cos desc, cell asc)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cells, CS = _cents_np(cents_rows)

    def _probe(vs):
        VQ = np.stack(vs.to_numpy()).astype(np.int64)
        ppm = _cell_ppm_np(VQ, CS)
        order = np.argsort(-ppm, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(cells[order].tolist())

    return pandas_udf(_probe, "array<long>")(vq_col)


def q_ann_ivf_topk(spark, sf_dir):
    """IVF top-k: train the quantizer, assign the corpus, probe each
    query's top-NPROBE cells, exact-rank (double cosine) the union."""
    from pyspark.sql.window import Window
    e = _emb(spark, sf_dir).select(
        "vec_id", _vec_d(F.col("embedding")).alias("v"))
    vqs = e.select("vec_id", "v", _quantize(F.col("v")).alias("vq"))
    cents_rows = ivf_train_cells(vqs.select("vec_id", "vq"))
    probed = vqs.select(
        "vec_id", "v",
        ivf_probe_cells(F.col("vq"), cents_rows, IVF_NPROBE).alias("pc"))
    assign = probed.select("vec_id", "v",
                           F.element_at("pc", 1).alias("cell"))
    probes = (probed.filter(F.col("vec_id") < N_QUERIES)
              .select(F.col("vec_id").alias("query_id"),
                      F.col("v").alias("qv"),
                      F.explode("pc").alias("cell")))
    cand = (assign.join(F.broadcast(probes), "cell")
            .filter(F.col("vec_id") != F.col("query_id"))
            .dropDuplicates(["query_id", "vec_id"]))
    scored2 = cand.select(
        "query_id", "vec_id",
        _cos_ppm(F.col("qv"), F.col("v")).alias("cos_ppm"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_ppm"), F.asc("vec_id"))
    return (scored2.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "rank", "vec_id", "cos_ppm")
            .orderBy("query_id", "rank"))


def _int_cos_ppm_sql(vq: str, cs: str) -> str:
    return (
        f"cast(floor(list_sum(list_transform(range(1, {EMB_DIM} + 1), "
        f"i -> {vq}[i] * {cs}[i])) / "
        f"(sqrt(list_sum(list_transform({vq}, x -> x*x))) * "
        f"sqrt(list_sum(list_transform({cs}, x -> x*x)))) * 1000000.0) "
        f"as bigint)")


def _kmeans_assign_ctes(e_body: str, k: int = IVF_K,
                        iters: int = IVF_KMEANS_ITERS) -> list[str]:
    """DuckDB CTE chain reproducing ivf_train_cells + argmax
    assignment bit-for-bit: `e` (the corpus body), `vqs`, hash-sampled
    init `c0`, `iters` Lloyd rounds, `final_ranked` (per-vec cell
    ranking against the trained centroids) and `assign` (r = 1).
    Shared by the IVF ANN oracle and the semantic-dedup oracle."""
    sums64 = ", ".join(f"cast(sum(vq[{i + 1}]) as bigint) AS s{i}"
                      for i in range(EMB_DIM))
    arr64 = "list_value(" + ", ".join(f"s{i}" for i in range(EMB_DIM)) + ")"
    icos = _int_cos_ppm_sql("t.vq", "c.cs")
    ctes = [
        f"e AS ({e_body})",
        f"vqs AS (SELECT vec_id, v, {VQ_SQL} AS vq FROM e)",
        # hash-sampled init: identical to ivf_seed_rows
        f"c0 AS (SELECT vec_id AS cell, vq AS cs FROM vqs "
        f"ORDER BY md5(cast(vec_id as varchar)), vec_id LIMIT {k})",
    ]
    prev = "c0"
    for it in range(1, iters + 1):
        ctes.append(
            f"a{it} AS (SELECT vec_id, vq, cell FROM ("
            f"SELECT t.vec_id, t.vq, c.cell, "
            f"row_number() OVER (PARTITION BY t.vec_id "
            f"ORDER BY {icos} DESC, c.cell) AS r "
            f"FROM vqs t CROSS JOIN {prev} c) WHERE r = 1)")
        ctes.append(f"s{it} AS (SELECT cell, {sums64} FROM a{it} "
                    f"GROUP BY cell)")
        ctes.append(f"c{it} AS (SELECT cell, {arr64} AS cs FROM s{it})")
        prev = f"c{it}"
    ctes += [
        f"final_ranked AS (SELECT t.vec_id, t.v, c.cell, "
        f"row_number() OVER (PARTITION BY t.vec_id "
        f"ORDER BY {icos} DESC, c.cell) AS r "
        f"FROM vqs t CROSS JOIN {prev} c)",
        "assign AS (SELECT vec_id, v, cell FROM final_ranked WHERE r = 1)",
    ]
    return ctes


_E_EMBEDDINGS = ("SELECT vec_id, cast(embedding as DOUBLE[]) AS v "
                 "FROM embeddings")


def _oracle_ann_ivf() -> str:
    ctes = _kmeans_assign_ctes(_E_EMBEDDINGS)
    cos_qv = _cos_ppm_sql("cand.qv", "cand.v")
    ctes += [
        f"probes AS (SELECT vec_id AS query_id, v AS qv, cell "
        f"FROM final_ranked WHERE r <= {IVF_NPROBE} "
        f"AND vec_id < {N_QUERIES})",
        "cand AS (SELECT DISTINCT p.query_id, p.qv, a.vec_id, a.v "
        "FROM assign a JOIN probes p ON a.cell = p.cell "
        "WHERE a.vec_id != p.query_id)",
        f"ranked2 AS (SELECT query_id, vec_id, {cos_qv} AS cos_ppm, "
        f"row_number() OVER (PARTITION BY query_id "
        f"ORDER BY {cos_qv} DESC, vec_id) AS rank FROM cand)",
    ]
    return ("WITH " + ",\n".join(ctes) +
            f"\nSELECT query_id, rank, vec_id, cos_ppm FROM ranked2 "
            f"WHERE rank <= {TOP_K} ORDER BY query_id, rank")


# ---------------------------------------------------------------------------
# Semantic dedup (the SemDeDup pattern): cluster the corpus with the
# TRAINED k-means coarse quantizer, then deduplicate WITHIN each cell
# at a semantic threshold (0.90 cos here) far below the exact/near-dup
# band of dedup_embedding_cosine (0.999). The per-cell pairwise step
# is the SemDeDup contract: cost is sum(|cell|^2) ~ N^2/K, and K
# scales with N to hold |cell| ~ constant (K ≈ N / target_cell_size —
# same broadcast-state math as the IVF header above), so the quadratic
# never sees the corpus, only a cell. Survivor rule is deterministic
# and SQL-expressible: a vector is DROPPED iff a SMALLER vec_id in the
# same cell matches at >= threshold (min-id survivor; dup_of = the
# smallest such neighbor). The gated corpus injects semantic
# near-dups: vec_id+200000 copies (vec_id % 10 == 0) with every
# (vec_id + dim) % 32 == 0 coordinate zeroed — a pure selection, so
# both engines hold byte-identical doubles (planted cos in
# [0.92, 0.999], natural max ~0.51: the 0.90 threshold separates them
# exactly; the perturbation stride makes the dup SEMANTIC, not exact).

SEM_PPM = 900000
SEM_PERTURB_STRIDE = 32


def _sem_perturb(vcol, vid_col):
    return F.transform(
        vcol, lambda x, i: F.when(
            ((vid_col + i) % SEM_PERTURB_STRIDE) == 0,
            F.lit(0.0)).otherwise(x))


def _sem_corpus(spark, sf_dir):
    e = _emb(spark, sf_dir).select(
        "vec_id", _vec_d(F.col("embedding")).alias("v"))
    pert = (e.filter(F.col("vec_id") % 10 == 0)
            .select((F.col("vec_id") + 200000).alias("vec_id"),
                    _sem_perturb(F.col("v"), F.col("vec_id")).alias("v")))
    return e.unionAll(pert)


SEM_NPROBE = 2


def semantic_dedup(corpus, k: int = IVF_K, iters: int = IVF_KMEANS_ITERS,
                   threshold_ppm: int = SEM_PPM,
                   nprobe: int = SEM_NPROBE):
    """SemDeDup over a (vec_id, v: array<double>) corpus: one row per
    input vector — (vec_id, cell, keep, dup_of), `cell` the argmax
    assignment. Pairing is MULTI-PROBE: candidates share any of each
    vector's top-`nprobe` cells — single-cell pairing misses ~20% of
    planted cos-0.97 twins to Voronoi boundaries (4x soak measured
    drop-recall 0.81; nprobe=2 closes it to ~1.0 for ~2x the
    candidate volume). The probed frame is cached: it feeds both pair
    sides plus the output row set, and Catalyst does not dedupe a
    subplan referenced thrice (at 100 TB swap the cache for a
    reliable checkpoint of the narrow (vec_id, cells) projection and
    re-join vectors by id)."""
    vqs = corpus.select("vec_id", "v", _quantize(F.col("v")).alias("vq"))
    cents_rows = ivf_train_cells(vqs.select("vec_id", "vq"), k, iters)
    probed = vqs.select(
        "vec_id", "v",
        ivf_probe_cells(F.col("vq"), cents_rows, nprobe).alias("pc")
    ).cache()
    assign = probed.select("vec_id", "v",
                           F.element_at("pc", 1).alias("cell"))
    blocks = probed.select("vec_id", F.explode("pc").alias("cell"))
    cand = (blocks.alias("a").join(
        blocks.alias("b"),
        (F.col("a.cell") == F.col("b.cell")) &
        (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"))
        .distinct())
    va = assign.select(F.col("vec_id").alias("vec_a"),
                       F.col("v").alias("v_a"))
    vb = assign.select(F.col("vec_id").alias("vec_b"),
                       F.col("v").alias("v_b"))
    dups = (cand.join(va, "vec_a").join(vb, "vec_b")
            .select("vec_b",
                    _cos_ppm(F.col("v_a"), F.col("v_b")).alias("cos_ppm"),
                    "vec_a")
            .filter(F.col("cos_ppm") >= threshold_ppm)
            .groupBy("vec_b").agg(F.min("vec_a").alias("dup_of"))
            .withColumnRenamed("vec_b", "vec_id"))
    return (assign.join(dups, "vec_id", "left")
            .select("vec_id", "cell",
                    F.col("dup_of").isNull().cast("int").alias("keep"),
                    "dup_of"))


def q_dedup_semantic(spark, sf_dir):
    return (semantic_dedup(_sem_corpus(spark, sf_dir))
            .orderBy("vec_id"))


_E_SEM = (
    f"SELECT vec_id, cast(embedding as DOUBLE[]) AS v FROM embeddings "
    f"UNION ALL "
    f"SELECT vec_id + 200000, list_transform(range(1, {EMB_DIM} + 1), "
    f"i -> case when (vec_id + (i - 1)) % {SEM_PERTURB_STRIDE} = 0 "
    f"then 0.0e0 else v[i] end) "
    f"FROM (SELECT vec_id, cast(embedding as DOUBLE[]) AS v "
    f"FROM embeddings) WHERE vec_id % 10 = 0")


def _oracle_dedup_semantic() -> str:
    cos = _cos_ppm_sql("p.v_a", "p.v_b")
    ctes = _kmeans_assign_ctes(_E_SEM)
    ctes += [
        f"blocks AS (SELECT vec_id, cell FROM final_ranked "
        f"WHERE r <= {SEM_NPROBE})",
        f"cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b "
        f"FROM blocks a JOIN blocks b "
        f"ON a.cell = b.cell AND a.vec_id < b.vec_id)",
        f"pairs AS (SELECT c.vec_a, ea.v AS v_a, c.vec_b, eb.v AS v_b "
        f"FROM cand c JOIN assign ea ON ea.vec_id = c.vec_a "
        f"JOIN assign eb ON eb.vec_id = c.vec_b)",
        f"dups AS (SELECT vec_b AS vec_id, "
        f"cast(min(vec_a) as bigint) AS dup_of "
        f"FROM pairs p WHERE {cos} >= {SEM_PPM} GROUP BY vec_b)",
    ]
    return ("WITH " + ",\n".join(ctes) +
            "\nSELECT s.vec_id, s.cell, "
            "cast(case when d.dup_of IS NULL then 1 else 0 end as int) "
            "AS keep, d.dup_of "
            "FROM assign s LEFT JOIN dups d ON d.vec_id = s.vec_id "
            "ORDER BY s.vec_id")
