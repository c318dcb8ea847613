"""Similarity-search operators: brute-force cosine top-k + IVF-style
cell-restricted search.

Scale design:
- Brute force: queries are tiny (a handful of probe vectors) -> broadcast
  them against the corpus; scoring is a map-only stage (no shuffle), then
  one small per-query top-k window.
- IVF: restrict scoring to the query's cell (here the `label` column is
  the cell assignment — the inverted-file structure the schema provides).
  The cell equi-join prunes the corpus scan to 1/n_cells of the data; at
  100 TB this is the difference between scanning everything and scanning
  one partition (cells map to parquet partitions).
- ANN/PQ: one implementation per operator. Training, routing, encoding
  and ADC lookup tables all read the same squared-L2 argmin kernel
  (`_cell_dists`), so the lattice and trained variants differ only in
  where their codebook comes from; the DuckDB oracles are the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import cosine, cosine_pre, l2_norm, safe_div, to_double


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    cell_col: str | None = None,
) -> DataFrame:
    """Cosine top-k of corpus per query vector.

    queries/corpus share (id_col, vec_col[, cell_col]). Self-matches are
    excluded. With ``cell_col`` the search is IVF-style cell-restricted.
    Deterministic ranking: (rounded score desc, neighbor id asc).
    """
    # Norms are computed ONCE per vector below the join (cosine_pre):
    # with Q broadcast probes each corpus row otherwise re-folds its own
    # norm Q times and every probe norm is re-folded per corpus row —
    # 3 interpreted HOF folds per pair where 1 (the dot) suffices.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        to_double(F.col(vec_col)).alias("__qv"),
        *([F.col(cell_col).alias("__qc")] if cell_col else []),
    ).withColumn("__qn", l2_norm(F.col("__qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        to_double(F.col(vec_col)).alias("__cv"),
        *([F.col(cell_col).alias("__cc")] if cell_col else []),
    ).withColumn("__cn", l2_norm(F.col("__cv")))
    # Queries are the tiny side -> broadcast them; scoring is map-only.
    joined = (
        F.broadcast(q).join(c, F.col("__qc") == F.col("__cc"))
        if cell_col
        else F.broadcast(q).crossJoin(c)
    )
    scored = joined.filter(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        cosine_pre(
            F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn")
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank"))
    )


def lsh_bits_for(n_vectors: int, target_bucket: int = 1024) -> int:
    """Bits per LSH band so the EXPECTED bucket occupancy n/2^bits stays at
    or below ``target_bucket``. Within-bucket verification work is
    Σ|bucket|² ≈ n·E|bucket| per band, so holding E|bucket| constant keeps
    candidate generation LINEAR in corpus size as it grows: 1e6 vectors →
    10 bits, 1e9 → 20 bits. Floor of 8 matches the smallest useful band.

    Integer-exact (r13): the smallest b >= 8 with 2^b · target >= n —
    equivalent to the old ceil(log2(n/target)) everywhere EXCEPT the
    exact boundaries n = target·2^k + tiny, where correctly-rounded
    float log2 loses the +1 and under-sizes by one bit (found by the
    q_knob_plan equivalence fuzz; q_knob_plan's oracle states the same
    definition as a SQL bit-shift scan, so the knob now has no libm
    surface at all). Pinned in test_lsh_bits_integer_equivalence."""
    need = -(-int(n_vectors) // max(1, int(target_bucket)))  # ceil div
    return max(8, (max(1, need) - 1).bit_length())


def hyperplane_lsh_pairs(
    df: DataFrame,
    signs: list[list[int]],
    bands: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    int_scale: int = 1_000_000,
    persist=None,
) -> DataFrame:
    """Banded random-hyperplane LSH candidate pairs with exact cosine.

    ``signs`` is a (bands*bits_per_band) × dim matrix of ±1 hyperplanes.
    Each vector gets ``bands`` (band_idx, band_hash) keys — band b's hash
    packs the sign bits of its planes — and candidates are pairs sharing
    AT LEAST ONE band (multi-probe, the embedding-space dual of the
    MinHash band join). Exact cosine (rounded to 6) is computed only
    within candidate buckets and thresholded.

    Operating regime: P(candidate) = 1-(1-p^bits)^bands with p = 1-θ/π.
    With 8-bit bands that S-curve passes ~50% at cos ≈ 0.9 (2 bands) —
    this is a NEAR-DUPLICATE detector. For moderate thresholds
    (cos ~0.3-0.7) recall at few bands is a few percent by design; use
    the exact cell-blocked search (q_embedding_cosine_dup) or raise
    ``bands`` (recall 1-(1-p^bits)^B, candidate cost linear in B). The
    S-curve is empirically pinned by
    ``test_lsh_pairs_sound_and_recall_matches_s_curve``.

    Determinism: sign projections accumulate floor(x·int_scale) BIGINTs
    (exact IEEE ops, no libm) so the bucket decision — the part a 1-ulp
    divergence would flip — is bit-identical across engines/hardware; the
    within-bucket cosine uses the same integer vectors with IEEE sqrt,
    rounded before the threshold.

    Scale: bucketing is map-only (posexplode fans each id into ``bands``
    rows); the self equi-join shuffles band keys + int vectors. Work per
    band is Σ|bucket|² — pick bits_per_band via ``lsh_bits_for`` so
    E|bucket| stays constant as the corpus grows; pathological buckets
    (mass at one signature) are split by AQE skew handling.

    ``persist`` (optional callable) caches the bucketed relation consumed
    by both sides of the self-join.
    """
    planes = len(signs)
    if planes % bands:
        raise ValueError(f"planes={planes} not divisible by bands={bands}")
    bits = planes // bands

    with_iv = int_vectors(df, id_col, vec_col, int_scale)

    def plane_dot(p: int) -> F.Column:
        sign_arr = F.array(*[F.lit(s) for s in signs[p]])
        return F.aggregate(
            F.zip_with(sign_arr, F.col("iv"), lambda s, x: s * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    def band_hash(b: int) -> F.Column:
        return sum(
            (
                F.when(plane_dot(b * bits + j) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
                for j in range(bits)
            ),
            start=F.lit(0),
        ).cast("int")

    bk = with_iv.select(
        "__id",
        "iv",
        F.posexplode(F.array(*[band_hash(b) for b in range(bands)])).alias(
            "band_idx", "band_hash"
        ),
    )
    if persist is not None:
        bk = persist(bk)
    a = bk.select(
        F.col("__id").alias("vec_a"), "band_idx", "band_hash", F.col("iv").alias("iv_a")
    )
    b = bk.select(
        F.col("__id").alias("vec_b"), "band_idx", "band_hash", F.col("iv").alias("iv_b")
    )

    def pair_dot(u: str, v: str) -> F.Column:
        return F.aggregate(
            F.zip_with(F.col(u), F.col(v), lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    # safe_div: a zero-norm vector must NULL the cosine (DuckDB's x/0.0)
    # instead of aborting the job under ANSI — see functions/vector.py
    cos = F.round(
        safe_div(
            pair_dot("iv_a", "iv_b").cast("double"),
            F.sqrt(pair_dot("iv_a", "iv_a")) * F.sqrt(pair_dot("iv_b", "iv_b")),
        ),
        6,
    )
    return (
        a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
        # a pair sharing >1 band appears once per shared band; cosine is
        # deterministic, so a distinct on the projected row dedups exactly
        .distinct()
    )


# -- shared argmin kernels ----------------------------------------------------
# Every ANN/PQ decision — k-means training and serving-time routing, the
# lattice and trained PQ encoders, the ADC lookup tables — reads ONE
# squared-L2 fold, so training, encoding and serving arithmetic can never
# drift apart.


def _iv(vec: F.Column, int_scale: int) -> F.Column:
    """floor(x·int_scale) BIGINT components — the LSH/PQ/IVF integerization
    policy: everything downstream has exact integer operands."""
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * float(int_scale)).cast("long")
    )


def _vectors(col, dtype: str = "float64"):
    """Row-major numpy matrix of an array column (one Arrow batch, or a
    pandas probe frame)."""
    import numpy as np

    return np.array([np.asarray(x, dtype=dtype) for x in col])


def _cell_dists(X, C):
    """The (n_vectors × n_centroids) squared-L2 matrix of double vectors
    ``X`` against centroids ``C`` — accumulated as an ascending-d LEFT
    fold (acc = acc + t*t from 0.0, one IEEE add per step), the same
    sequence as the DuckDB oracles' ascending ``list_sum``/left folds.
    Integer-vector callers pass ``iv / int_scale`` (one exact long->double
    division per component); the lattice encoder and the lattice ADC
    tables pass raw doubles.

    The loop runs over DIMENSIONS only (one (n × k) rank-1 update per
    d), not over (centroid, d): `ivf_cells_for` scales k with the corpus,
    and a per-centroid loop would pay k×dim numpy dispatches per batch
    where this shape pays dim regardless of k. Never rewrite this as the
    BLAS ‖x‖² + ‖c‖² − 2x·c expansion, which changes the summation order
    and breaks cross-engine ties."""
    import numpy as np

    CM = np.asarray(C, dtype=np.float64)  # (k, d)
    acc = np.zeros((len(X), len(CM)))
    t = np.empty_like(acc)
    for d in range(CM.shape[1]):
        # in-place (x_d − c_d)² accumulation: identical IEEE ops on
        # identical operands in identical order, no (n × k) temporaries —
        # at 32k vectors × 716 cells the out-of-place form allocated
        # ~11 GB/pass of short-lived arrays and was memory-bound
        np.subtract(X[:, d, None], CM[None, :, d], out=t)
        np.multiply(t, t, out=t)
        acc += t
    return acc


def _argmin_cells(X, C):
    """Nearest centroid per row of ``X`` by :func:`_cell_dists`;
    np.argmin's first index is the smaller-cell/code tie-break. Returns
    (index int array, dist-to-chosen double array)."""
    import numpy as np

    dists = _cell_dists(X, C)
    cells = np.argmin(dists, axis=1)
    return cells, dists[np.arange(len(dists)), cells]


def _pq_codes(X, CB):
    """Per-subspace argmin codes of double vectors ``X`` against the
    (subspaces × codes × sub) codebook tensor ``CB``, plus the summed
    reconstruction error as an ascending-m left fold. Returns
    (codes (n × subspaces) int array, recon double array)."""
    import numpy as np

    sub = len(CB[0][0])
    codes = np.empty((len(X), len(CB)), dtype=np.int64)
    recon = np.zeros(len(X))
    for m in range(len(CB)):
        codes[:, m], dm = _argmin_cells(X[:, m * sub : (m + 1) * sub], CB[m])
        recon = recon + dm
    return codes, recon


def _code_strings(codes) -> list[str]:
    return [",".join(map(str, row)) for row in codes.tolist()]


# -- product quantization ---------------------------------------------------
PQ_SUBSPACES = 8
PQ_K = 16
PQ_DIM = 64


def pq_codebook(m: int, k: int, sub_dim: int) -> list[float]:
    """Deterministic md5-derived centroid (subspace m, code k): components
    in [-0.5, 0.5) — the embedding corpus' range — so codebooks are
    identical across engines/runs and inlineable into oracle SQL."""
    import hashlib

    return [
        (int(hashlib.md5(f"pq:{m}:{k}:{d}".encode()).hexdigest()[:8], 16) % 1_000_001)
        / 1_000_000.0
        - 0.5
        for d in range(sub_dim)
    ]


def _lattice(subspaces: int, k: int, dim: int) -> list[list[list[float]]]:
    """The fixed md5 lattice as a (subspaces × k × sub) codebook tensor."""
    sub = dim // subspaces
    return [[pq_codebook(m, kk, sub) for kk in range(k)] for m in range(subspaces)]


def _pq_encode(
    df: DataFrame,
    vec: F.Column,
    codebooks,
    id_col: str,
    keep_cols: tuple[str, ...],
    int_scale: int | None = None,
) -> DataFrame:
    """THE encode pass behind :func:`pq_encode` (lattice books, raw
    doubles) and :func:`pq_encode_cb` (trained books, ``iv`` integers
    divided back by ``int_scale`` in the batch — the space the books were
    trained in): one Arrow mapInPandas map over the scan, codes by
    :func:`_pq_codes`, ROUND(6) of recon_err in the JVM (F.round HALF_UP,
    matching the oracle). Returns (id, *keep_cols, pq_codes 'c0,c1,...',
    recon_err)."""
    import numpy as np

    CB = np.asarray(codebooks, dtype=np.float64)
    keep_schema = "".join(
        f", {c} {df.schema[c].dataType.simpleString()}" for c in keep_cols
    )

    def enc(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = _vectors(pdf["__v"])
            if int_scale is not None:
                X = X / float(int_scale)
            codes, recon = _pq_codes(X, CB)
            out = {id_col: pdf[id_col].to_numpy()}
            for c in keep_cols:
                out[c] = pdf[c].to_numpy()
            out["pq_codes"] = _code_strings(codes)
            out["recon_err"] = recon
            yield pd.DataFrame(out)

    return (
        df.select(id_col, *keep_cols, vec.alias("__v"))
        .mapInPandas(
            enc, f"{id_col} long{keep_schema}, pq_codes string, recon_err double"
        )
        .select(
            id_col,
            *keep_cols,
            "pq_codes",
            F.round(F.col("recon_err"), 6).alias("recon_err"),
        )
    )


def pq_encode(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    subspaces: int = PQ_SUBSPACES,
    k: int = PQ_K,
    dim: int = PQ_DIM,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Product-quantize vectors against the fixed md5 lattice: split into
    ``subspaces`` sub-vectors, assign each to its nearest of ``k``
    centroids (squared L2 as an ascending-dimension LEFT fold,
    bit-identical to the SQL oracle; ties break to the smaller code).
    Returns (id, *keep_cols, pq_codes 'c0,c1,...', recon_err) — codes
    compress dim×4 bytes to ``subspaces`` nibbles (32x for 64-d float32
    at 8×16), recon_err is the summed squared distance to the chosen
    centroids.

    Production PQ trains its codebooks (:func:`pq_train` /
    :func:`pq_encode_cb`); the lattice keeps the OPERATOR exact and
    oracle-checkable with the codebook inlined into the oracle SQL. One
    Arrow batch pass through the shared :func:`_pq_encode` kernel — a
    pure map over the scan, no shuffle; the vectorized (batch × k) fold
    replaced a JVM higher-order-function encode on measurement (0.44 s
    vs 1.22 s warm on 40k rows, value-identical on every row).
    """
    return _pq_encode(
        df, F.col(vec_col), _lattice(subspaces, k, dim), id_col, keep_cols
    )


def _adc_rank(
    queries_pd,
    Q,
    codebooks,
    codes: DataFrame,
    k: int,
    id_col: str,
    cell_col: str | None,
) -> DataFrame:
    """THE ADC server behind both the lattice (:func:`pq_adc_topk`) and
    trained (:func:`pq_adc_topk_cb`) scorers — only the probe vectors
    ``Q`` (raw or floored) and the codebook tensor differ between them.

    LUT build: the (probes × subspaces × n_codes) partial-squared-distance
    tensor is :func:`_cell_dists` of each probe sub-vector against its
    subspace's book — the encode kernel's fold, driver-side, a few KiB.
    Scan: an Arrow mapInPandas gather over the codes relation evaluates
    Σ_m lut[m][code_m] as an ascending-m LEFT fold of vectorized numpy
    takes (explicit sequential adds — numpy pairwise summation would
    reorder it). ROUND(9) and the (adc_dist asc, neighbor id asc) rank
    window stay in the JVM, matching the oracle. The Arrow gather
    replaced an inlined-literal JVM tree whose struct explode multiplied
    rows n_probes× before filtering: 2.5× faster at 16 probes, 3.2× at
    48, the gap widening with probe count.

    ``cell_col`` fuses IVF pruning: the codes scan pre-filters to the
    probes' cell set JVM-side (partition pruning on cell-partitioned
    code files), and each probe scores only rows of ITS cell via a numpy
    mask inside the batch."""
    import numpy as np

    if not len(queries_pd):
        return codes.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, adc_dist double, rank int"
        )
    CB = np.asarray(codebooks, dtype=np.float64)
    sub = CB.shape[2]
    lut = np.stack(
        [_cell_dists(Q[:, m * sub : (m + 1) * sub], CB[m]) for m in range(len(CB))],
        axis=1,
    )
    qid = np.array([int(x) for x in queries_pd[id_col]])
    qcell = None
    if cell_col is not None:
        # .item() unwraps numpy scalars from the pandas probe frame
        cells = [c.item() if hasattr(c, "item") else c for c in queries_pd[cell_col]]
        # partition-pruning half of IVF-PQ: only the probed cells scan
        codes = codes.filter(F.col(cell_col).isin(*set(cells)))
        qcell = np.array(cells)

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            codes_m = np.array(
                [[int(c) for c in s.split(",")] for s in pdf["pq_codes"]],
                dtype=np.int64,
            )
            nid = pdf[id_col].to_numpy()
            ncell = pdf[cell_col].to_numpy() if qcell is not None else None
            for qi in range(len(lut)):
                if qcell is not None:
                    mask = ncell == qcell[qi]
                    if not mask.any():
                        continue
                    cm, ni = codes_m[mask], nid[mask]
                else:
                    cm, ni = codes_m, nid
                acc = lut[qi][0][cm[:, 0]]
                for m in range(1, lut.shape[1]):
                    acc = acc + lut[qi][m][cm[:, m]]
                yield pd.DataFrame(
                    {"query_id": qid[qi], "neighbor_id": ni, "adc_dist": acc}
                )

    scored = codes.mapInPandas(
        score, "query_id long, neighbor_id long, adc_dist double"
    ).select(
        "query_id",
        "neighbor_id",
        F.round(F.col("adc_dist"), 9).alias("adc_dist"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def pq_adc_topk(
    queries_pd,
    codes: DataFrame,
    k: int = 10,
    subspaces: int = PQ_SUBSPACES,
    n_codes: int = PQ_K,
    dim: int = PQ_DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k over lattice PQ codes — the
    billion-scale ANN serving path: the corpus lives as
    ``subspaces``-byte codes (32x smaller), scans never touch raw
    vectors, and every probe scores in ONE pass over the codes relation
    (:func:`_adc_rank`, raw probe vectors against the lattice).

    ``queries_pd``: pandas DataFrame with (id_col, vec_col[, cell_col])
    probe rows. ``codes``: output of :func:`pq_encode` (same ``id_col``;
    carrying ``cell_col`` when set — the standard IVF-PQ / FAISS IVFADC
    layout). Ranking is deterministic (adc_dist asc, neighbor id asc).
    """
    return _adc_rank(
        queries_pd,
        _vectors(queries_pd[vec_col]),
        _lattice(subspaces, n_codes, dim),
        codes,
        k,
        id_col,
        cell_col,
    )


# -- distributed k-means (IVF cell training) --------------------------------

KMEANS_K_MIN = 8  # smallest useful coarse quantizer (and the tiny-corpus floor)
KMEANS_ITERS = 2
IVF_TARGET_CELL = 32  # minimum average cell occupancy a training run should see


def ivf_cells_for(n_vectors: int, target_cell: int = IVF_TARGET_CELL) -> int:
    """Cell count for the IVF coarse quantizer, by corpus size — the
    `lsh_bits_for` / `simhash_width_for` sizing rule the ANN stack was
    missing (VERDICT r10 #1: a fixed k=8 caps cell pruning at
    nprobe/8 forever and was the measured sf0.1 recall ceiling).

    k = ceil(4·√n), the middle of the √n..16·√n band FAISS documents
    for IVF training, clamped below by ``KMEANS_K_MIN`` and above by
    n // target_cell so tiny corpora keep trainable occupancy (≥
    ``target_cell`` vectors per cell on average — Lloyd with near-empty
    cells just freezes seeds). Values: 500 → 15, 2k → 62, 1e6 → 4000,
    1e9 → 126,491 — at scale the ADC scan reads nprobe/k of the
    cell-partitioned code files, so pruning IMPROVES as the corpus
    grows instead of capping at nprobe/8.

    Must stay bit-identical to the oracle's knobs CTE
    (queries/similarity._kmeans_cte_chain): GREATEST/LEAST over exact
    integer ops and one IEEE sqrt — no float drift surface."""
    import math

    return max(
        KMEANS_K_MIN,
        min(math.ceil(4 * math.sqrt(n_vectors)), n_vectors // max(1, target_cell)),
    )


# Deterministic seed-spreading hash (VERDICT r10 #2): first-k-by-id
# seeding put adjacent-id — and in id-correlated corpora, near-identical
# — vectors into adjacent seed slots, producing the skewed occupancy
# q_embedding_drift exists to detect. Ordering candidates by a Knuth
# multiplicative hash of the id decorrelates seed choice from id
# locality while staying RNG-free and oracle-expressible. The low 20
# bits enter first so the product (2^20 * 2654435761 < 2^52) can never
# overflow a BIGINT in EITHER engine — Spark longs wrap silently on
# overflow while DuckDB throws, so the safe range is a cross-engine
# determinism requirement, not a style choice. Collisions (ids equal
# mod 2^20) tie-break on the raw id.
SEED_HASH_MASK = 1_048_576  # 2^20
SEED_HASH_MULT = 2_654_435_761  # Knuth's 2^32 / phi
SEED_HASH_MOD = 4_294_967_296  # 2^32


def _seed_hash(id_col: F.Column) -> F.Column:
    return (id_col % F.lit(SEED_HASH_MASK)) * F.lit(SEED_HASH_MULT) % F.lit(
        SEED_HASH_MOD
    )


def nprobe_for(n_cells: int) -> int:
    """Serving-time probe width for a k-cell IVF index: 2·ceil(√k),
    floored at 4. Sublinear in k by design — as `ivf_cells_for` grows
    the cell count with the corpus, the scanned FRACTION nprobe/k =
    2/√k keeps shrinking (k=15 → 8 of 15, k=62 → 16 of 62 ≈ 26%,
    k=4000 → 128 ≈ 3.2%, k=126k → 712 of 126k ≈ 0.56%), which is the
    whole point of scaling k.

    The 2× over the r11 ceil(√k) policy is the VERDICT r11 ask #3
    coverage bump, priced by q_ann_nprobe_curve before adoption: the
    honest (leak-free-seeded) stack was candidate-coverage-bound at
    0.4875 recall@10 (sf0.1, nprobe=8 of 62), and the curve showed
    coverage still rising 0.40→0.4875 over 4→8 — doubling the width
    buys the next coverage step (measured 0.675 at nprobe=16, SCALE.md)
    while quantization improvements (residual PQ / OPQ) would buy ZERO
    until coverage rises, because the exact refine already converts all
    delivered coverage into recall. Recall at this width is what the
    audit family (q_ann_pq_recall_trained*) measures and pins; raise
    per-query when an SLA needs the ceiling lifted further
    (q_ann_nprobe_curve is the planning table).
    Twin of the oracle knobs CTE's ``np`` column."""
    import math

    return max(4, 2 * math.ceil(math.sqrt(n_cells)))


def int_vectors(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    int_scale: int = 1_000_000,
) -> DataFrame:
    """(__id, iv) projection shared by every k-means/IVF/PQ-training entry
    point: vectors enter the determinism boundary as floor(x*int_scale)
    BIGINTs, so all downstream arithmetic has exact integer operands. A
    train+encode+serve pipeline persists ONE copy and passes it as
    ``prepared=`` to :func:`kmeans_fit`, :func:`pq_train` and
    :func:`ivf_assign_encode` (values identical to each operator's
    private projection by construction)."""
    return df.select(F.col(id_col).alias("__id"), _iv(F.col(vec_col), int_scale).alias("iv"))


def _lloyd_stats(
    rel: DataFrame, books, int_scale: int
) -> dict[tuple[int, int], tuple[int, list[int]]]:
    """One Lloyd round's sufficient statistics for every trainer: ``rel``
    carries (m int, iv array<long>) rows and ``books[m]`` is the
    centroid list of book m — k-means trains ONE book (m = 0), PQ trains
    one book per subspace (m = subspace). Each Arrow batch argmin-routes
    its rows through :func:`_argmin_cells` (on iv/int_scale) and folds
    per-(m, code) integer sums/counts in numpy, so what leaves Python is
    ≤ books×codes partial rows per task instead of the corpus. Few-
    partition inputs (the usual case after catalog.fan_out_vectorized)
    collect the partials and reduce on the driver — no exchange, no AQE
    stage job per round; wide layouts reduce through a map-side-
    combinable groupBy(m, code) so driver traffic stays bounded by
    books×codes×width. Integer addition is associative, so every order
    gives bit-identical centroids. Returns {(m, code): (n, [s_d])}."""
    import numpy as np

    B = [np.asarray(bk, dtype=np.float64) for bk in books]
    width = B[0].shape[1]

    def go(batches):
        import pandas as pd

        acc: dict[tuple[int, int], tuple[int, object]] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            mv = pdf["m"].to_numpy()
            IV = _vectors(pdf["iv"], "int64")
            for m in np.unique(mv):
                iv_m = IV[mv == m]
                codes, _ = _argmin_cells(iv_m / float(int_scale), B[int(m)])
                for code in np.unique(codes):
                    hit = codes == code
                    key = (int(m), int(code))
                    pn, ps = acc.get(key, (0, 0))
                    acc[key] = (pn + int(hit.sum()), ps + iv_m[hit].sum(axis=0))
        if acc:
            yield pd.DataFrame(
                {
                    "m": [key[0] for key in acc],
                    "code": [key[1] for key in acc],
                    "n": [v[0] for v in acc.values()],
                    "s": [v[1].tolist() for v in acc.values()],
                }
            )

    partials = rel.mapInPandas(go, "m int, code int, n long, s array<long>")
    if rel.rdd.getNumPartitions() <= 64:
        out: dict[tuple[int, int], tuple[int, list[int]]] = {}
        for r in partials.collect():
            key = (r["m"], r["code"])
            pn, ps = out.get(key, (0, [0] * width))
            out[key] = (pn + r["n"], [a + b for a, b in zip(ps, r["s"])])
        return out
    rows = (
        partials.groupBy("m", "code")
        .agg(
            F.sum("n").alias("n"),
            *[F.sum(F.element_at("s", d + 1)).alias(f"s{d}") for d in range(width)],
        )
        .collect()
    )
    return {
        (r["m"], r["code"]): (r["n"], [r[f"s{d}"] for d in range(width)])
        for r in rows
    }


def _lloyd(rel: DataFrame, books, iters: int, int_scale: int):
    """The shared Lloyd loop (MLlib shape): the model (``books``, driver-
    side metadata) is refit ``iters`` times from :func:`_lloyd_stats` —
    one fused assignment+partial-sum pass per round whose only shuffle,
    if any, is the constant-size partials. Centroids are sum/(n·int_scale)
    doubles (exact integer operands -> one IEEE division, bit-identical
    in every engine); an empty cell/code keeps its centroid."""
    for _ in range(iters):
        stats = _lloyd_stats(rel, books, int_scale)
        books = [
            [
                [
                    float(stats[(m, c)][1][d])
                    / (float(stats[(m, c)][0]) * float(int_scale))
                    for d in range(len(cent))
                ]
                if (m, c) in stats
                else cent
                for c, cent in enumerate(bk)
            ]
            for m, bk in enumerate(books)
        ]
    return books


def kmeans_fit(
    df: DataFrame,
    k: int | None = None,
    iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    int_scale: int = 1_000_000,
    prepared: DataFrame | None = None,
) -> list[list[float]]:
    """Train the IVF coarse quantizer — Lloyd's k-means, the TRAINING
    half of the IVF path — and return the centroid MODEL (k×dim
    doubles), the artifact an index build persists and ships to the
    serving tier; :func:`ivf_assign` routes vectors with the exact
    arithmetic training used (reference parity: the ETL's enrichment
    lookups separate the lookup-table BUILD from its APPLY the same way,
    spring-cloud-kafka-streams-dbz-etl processor topology).

    Seeds are the k first rows in :func:`_seed_hash` order (deterministic
    k-means++-style spread — no RNG, hash-decorrelated from id locality,
    tie-break on id; cell c is the c-th seed on BOTH engines), then
    ``iters`` rounds of :func:`_lloyd`. Cross-engine determinism is the
    LSH/PQ integer-vector policy: floor(x·int_scale) BIGINTs, exact-
    operand centroid divisions, ascending-dimension distance folds,
    smaller-cell tie-break.

    ``k=None`` (the default) sizes the quantizer from the training
    corpus via :func:`ivf_cells_for` — the count() runs on the already-
    persisted integer projection. ``prepared`` (a caller-persisted
    :func:`int_vectors` relation) skips the private projection and its
    persist/unpersist — identical training, shared scan."""
    own = prepared is None
    base = int_vectors(df, id_col, vec_col, int_scale).persist() if own else prepared
    try:
        if k is None:
            k = ivf_cells_for(base.count())
        seeds = base.orderBy(_seed_hash(F.col("__id")), "__id").limit(k).collect()
        if len(seeds) < k:
            raise ValueError(f"corpus has fewer than k={k} vectors")
        cents = [[float(r.iv[d]) / float(int_scale) for d in range(dim)] for r in seeds]
        rel = base.select(F.lit(0).alias("m"), "iv")
        return _lloyd(rel, [cents], iters, int_scale)[0]
    finally:
        if own:
            base.unpersist()


def ivf_assign(
    df: DataFrame,
    cents: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    int_scale: int = 1_000_000,
) -> DataFrame:
    """Serving-time IVF routing: assign each vector to its nearest
    trained centroid via the SAME :func:`_argmin_cells` kernel the
    training rounds used — one map-only Arrow pass, no shuffle, no
    driver round-trip. Returns (id_col, cell int, dist double ROUND(6)).
    This is the routing step a 100 TB index build runs when writing
    cell-partitioned code files, and what q_ann_pq_recall_trained uses
    to route both corpus and probes through trained cells."""
    import numpy as np

    C = np.asarray(cents, dtype=np.float64)

    def go(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            cellv, distv = _argmin_cells(_vectors(pdf["iv"]) / float(int_scale), C)
            yield pd.DataFrame(
                {
                    "__id": pdf["__id"].to_numpy(),
                    "cell": cellv.astype("int32"),
                    "dist": distv,
                }
            )

    return (
        int_vectors(df, id_col, vec_col, int_scale)
        .mapInPandas(go, "__id long, cell int, dist double")
        .select(
            F.col("__id").alias(id_col),
            "cell",
            F.round(F.col("dist"), 6).alias("dist"),
        )
    )


def ivf_probe(
    df: DataFrame,
    cents: list[list[float]],
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    int_scale: int = 1_000_000,
) -> DataFrame:
    """Multi-probe serving-time routing — the standard IVF recall knob:
    per vector, the ``nprobe`` nearest trained cells by the SAME
    :func:`_cell_dists` fold the assignment kernel uses, ranked
    (dist ASC, cell ASC) via a stable argsort (ties keep ascending cell
    index — exactly the SQL window's tie-break). Returns
    (id_col, cell, probe_rank 1..nprobe); probe_rank 1 is
    :func:`ivf_assign`'s cell by construction. One map-only Arrow pass,
    no shuffle — at 100 TB a probe batch routes in milliseconds and the
    downstream ADC scan reads nprobe/n_cells of the code files."""
    import numpy as np

    C = np.asarray(cents, dtype=np.float64)
    npb = int(nprobe)
    if not 1 <= npb <= len(C):
        raise ValueError(f"nprobe must be in [1, {len(C)}], got {nprobe}")

    def go(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            dists = _cell_dists(_vectors(pdf["iv"]) / float(int_scale), C)
            order = np.argsort(dists, axis=1, kind="stable")[:, :npb]
            ids = pdf["__id"].to_numpy()
            yield pd.DataFrame(
                {
                    "__id": np.repeat(ids, npb),
                    "cell": order.reshape(-1).astype("int32"),
                    "probe_rank": np.tile(
                        np.arange(1, npb + 1), len(ids)
                    ).astype("int32"),
                }
            )

    return (
        int_vectors(df, id_col, vec_col, int_scale)
        .mapInPandas(go, "__id long, cell int, probe_rank int")
        .select(F.col("__id").alias(id_col), "cell", "probe_rank")
    )


def ivf_probe_pd(
    probes_pd,
    cents: list[list[float]],
    nprobe: int,
    vec_col: str = "embedding",
    int_scale: int = 1_000_000,
):
    """Driver-side twin of :func:`ivf_probe` for a control-plane-sized
    probe set that is ALREADY in pandas (routing 8 probe rows needs no
    mapInPandas pass and shuffle join). Same integerization
    (floor(x·int_scale) on the double cast), same :func:`_cell_dists`
    fold, same stable argsort tie-break — the (probe × nprobe) frame is
    row-for-row the probes⋈ivf_probe join. Appends a ``cell`` int32
    column, one row per (probe, probe_rank)."""
    import numpy as np

    C = np.asarray(cents, dtype=np.float64)
    npb = int(nprobe)
    if not 1 <= npb <= len(C):
        raise ValueError(f"nprobe must be in [1, {len(C)}], got {nprobe}")
    if not len(probes_pd):
        out = probes_pd.copy()
        out["cell"] = np.array([], dtype="int32")
        return out
    IV = np.floor(_vectors(probes_pd[vec_col]) * float(int_scale)).astype(np.int64)
    dists = _cell_dists(IV / float(int_scale), C)
    order = np.argsort(dists, axis=1, kind="stable")[:, :npb]
    rep = probes_pd.loc[probes_pd.index.repeat(npb)].reset_index(drop=True)
    rep["cell"] = order.reshape(-1).astype("int32")
    return rep


def kmeans_cells(
    df: DataFrame,
    k: int | None = None,
    iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    int_scale: int = 1_000_000,
) -> DataFrame:
    """Lloyd's k-means cell assignment of the corpus — the cells
    q_ann_ivf/q_ann_ivfpq-style consumers block on: :func:`kmeans_fit`
    trains the model, :func:`ivf_assign` routes the same corpus through
    it. Returns (id, cell int, dist double ROUND(6)). ``k=None`` sizes
    the quantizer via :func:`ivf_cells_for`.

    Scale: per training round one map-only Arrow argmin pass plus a
    constant-size partial-sum reduce (bytes independent of corpus size);
    the final assignment is one more map pass. Nothing data-sized ever
    reaches the driver."""
    cents = kmeans_fit(df, k, iters, id_col, vec_col, dim, int_scale)
    return ivf_assign(df, cents, id_col, vec_col, int_scale)


def pair_dots_arrow(
    e: DataFrame,
    id_col: str = "vec_id",
    cell_col: str = "label",
    vec_col: str = "v",
    directed: bool = False,
) -> DataFrame:
    """All within-cell pair DOT PRODUCTS plus both vectors' norms, as one
    mapInArrow pass per cell — the blocked self-join's pair generator.
    Each vector shuffles once to its cell, and the cell's pair grid
    accumulates as ``dim`` sequential rank-1 numpy updates instead of a
    join that carries both arrays on every pair row and folds each pair
    in an interpreted HOF. It preserves the exact NULL/NaN algebra of
    the expression form (q_triangle_count keeps NaN pairs because NaN
    compares largest in both engines; q_knn_graph ranks NULL cosines
    last and NaN first; q_embedding_cosine_dup drops zero-norm pairs,
    whose cosine is NULL as the DuckDB oracle's x/0.0 is), because it
    stays in Arrow end to end: NaN data flows through numpy untouched
    and NULLs are explicit validity bits.

    Emits (``cell_col``, ``{id}_a``, ``{id}_b``, __dp, __na, __nb) for
    every ordered pair id_a < id_b of the cell (both directions when
    ``directed``); the caller applies the SAME JVM tail as the join
    form — ``cosine_from_dot`` = ``round(try_divide(__dp, __na*__nb),
    6)`` — so every division, zero-norm NULL, ROUND and threshold/rank
    decision is made by the identical expression on bit-identical
    operands:

    - __dp accumulates ``V[i,d]*V[j,d]`` in ascending d with one IEEE
      add per step — the expression form's ``aggregate(zip_with(...))``
      left fold exactly (products first, then sequential adds from 0.0).
    - __na/__nb are ``sqrt`` of the accumulator's diagonal — the same
      fold over the same array as ``l2_norm``, so the caller no longer
      computes or carries norms at all.
    - A vector that is NULL, has a NULL element, or whose length differs
      from its partner's folds to a NULL dot in the expression form
      (zip_with pads with NULLs, one NULL poisons the fold); such pairs
      emit __dp NULL here. Same-length degenerate pairs (including two
      empty vectors: fold over nothing = 0.0) go through the matrix.
    - Rows whose id or cell key is NULL pair with nothing: inner-join
      semantics, as the join form's ``a.label = b.label`` and
      ``a.id < b.id`` (and the oracle's ``ON``) give. They are dropped
      before the shuffle, so a NULL id never reaches the per-cell sort
      and NULL keys never form a cell.

    Scale: identical shuffle to the groupBy form (each vector moves once
    to its cell). Memory is NOT chunked: ``by_cell`` buffers the whole
    Arrow partition (every cell the repartition sends it, vectors
    included) before the first cell is scored, and each cell of m rows
    allocates the dense m×m ``dp`` (doubles) and ``valid`` (bools) plus
    its m(m-1)/2 emitted pair rows (twice that when ``directed``); only
    the ``acc`` temporary is cut to ``block_rows`` × m. So the peak per
    task is the partition's vectors plus O(m²) for its largest cell,
    which the blocking scheme alone bounds. Row-for-row parity with the join-HOF form is pinned
    in tests/test_plans.py and fuzz-swept (incl. NaN/zero/ragged rows and
    NULL keys) in tools/deep_fuzz.py and tools/measure_pairdots.py.
    """
    import numpy as np
    import pyarrow as pa

    cell_t = e.schema[cell_col].dataType.simpleString()
    out_schema = (
        f"{cell_col} {cell_t}, {id_col}_a long, {id_col}_b long,"
        " __dp double, __na double, __nb double"
    )
    block_rows = 2048

    def cell_dots(batches):
        # buffer the partition (cells are complete per partition after
        # the repartition below), grouped by cell key
        by_cell: dict = {}
        for batch in batches:
            ids = batch.column(id_col)
            cells = batch.column(cell_col)
            vecs = batch.column(vec_col)
            for r in range(batch.num_rows):
                by_cell.setdefault(cells[r].as_py(), (cells[r], []))[1].append(
                    (ids[r].as_py(), vecs[r])
                )
        for cell, rows in by_cell.values():
            rows.sort(key=lambda t: t[0])  # id_a < id_b == index order
            m = len(rows)
            if m < 2:
                continue
            ids = np.array([t[0] for t in rows], dtype=np.int64)
            # classify: NULL / NULL-element vectors -> class None (all
            # their pairs fold to NULL); others by length
            cls = np.empty(m, dtype=object)
            vec_np: list = [None] * m
            for r, (_, v) in enumerate(rows):
                if not v.is_valid:
                    cls[r] = None
                    continue
                arr = v.values  # pyarrow double array of this list cell
                if arr.null_count:
                    cls[r] = None
                    continue
                vec_np[r] = arr.to_numpy(zero_copy_only=False)
                cls[r] = len(vec_np[r])
            dp = np.zeros((m, m))
            valid = np.zeros((m, m), dtype=bool)
            norms = np.full(m, np.nan)
            norms_valid = np.zeros(m, dtype=bool)
            for length in {c for c in cls if c is not None}:
                idx = np.flatnonzero(cls == length)
                V = (
                    np.stack([vec_np[r] for r in idx])
                    if length
                    else np.zeros((len(idx), 0))
                )
                for i0 in range(0, len(idx), block_rows):
                    sel = idx[i0 : i0 + block_rows]
                    acc = np.zeros((len(sel), len(idx)))
                    for d in range(length):
                        # ascending-d left fold for every pair at once;
                        # one IEEE multiply + one IEEE add per step,
                        # exactly the zip_with/aggregate sequence
                        acc += np.outer(V[i0 : i0 + block_rows, d], V[:, d])
                    dp[np.ix_(sel, idx)] = acc
                valid[np.ix_(idx, idx)] = True
                # the diagonal IS dot(v, v) by the same fold; sqrt is
                # correctly rounded in IEEE, matching the JVM l2_norm
                norms[idx] = np.sqrt(np.diag(dp[np.ix_(idx, idx)]))
                norms_valid[idx] = True
            iu, ju = np.triu_indices(m, k=1)
            if directed:
                iu, ju = np.concatenate([iu, ju]), np.concatenate([ju, iu])
            yield pa.record_batch(
                [
                    pa.repeat(cell, len(iu)),
                    pa.array(ids[iu]),
                    pa.array(ids[ju]),
                    pa.array(dp[iu, ju], mask=~valid[iu, ju]),
                    pa.array(norms[iu], mask=~norms_valid[iu]),
                    pa.array(norms[ju], mask=~norms_valid[ju]),
                ],
                names=[cell_col, f"{id_col}_a", f"{id_col}_b", "__dp", "__na", "__nb"],
            )

    return (
        e.select(cell_col, id_col, vec_col)
        .filter(F.col(cell_col).isNotNull() & F.col(id_col).isNotNull())
        .repartition(cell_col)
        .mapInArrow(cell_dots, out_schema)
    )


# -- trained product-quantization codebooks ----------------------------------

PQT_ITERS = 2


def pq_train(
    df: DataFrame,
    subspaces: int = PQ_SUBSPACES,
    k: int = PQ_K,
    dim: int = PQ_DIM,
    int_scale: int = 1_000_000,
    iters: int = PQT_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prepared: DataFrame | None = None,
) -> list[list[list[float]]]:
    """Train all ``subspaces`` PQ codebooks in ONE distributed Lloyd run
    — the step that separates a usable IVF-PQ index from the fixed
    lattice codebook (q_ann_pq_recall_trained measured the lattice's ADC
    noise as the binding recall loss; training the codebooks recovers
    it: see q_ann_pq_recall_trained_cb). Vectors explode into
    (m, integer-subvector) rows — m is a COLUMN, not a loop — so every
    round is one :func:`_lloyd` pass over all subspaces at once, the
    same kernel and reduce as cell training with one book per subspace.
    Returns codebooks[m][code] as sub-dim float lists.

    Cross-engine determinism (the k-means policy, subspace-wise):
    integer subvectors floor(x*int_scale), centroids sum/(n*int_scale)
    exact divisions, ascending-d folds, argmin-first = smaller-code
    tie-break, seeds = the first k distinct ``id_col`` values in
    `_seed_hash` order. Empty codes keep their centroid. The DuckDB
    twin is the relational chain in queries/similarity._pq_train_cte_chain.
    """
    sub = dim // subspaces
    base = int_vectors(df, id_col, vec_col, int_scale) if prepared is None else prepared
    slices = F.array(
        *[
            F.struct(
                F.lit(m).cast("int").alias("m"),
                F.slice("iv", m * sub + 1, sub).alias("iv"),
            )
            for m in range(subspaces)
        ]
    )
    sv = (
        base.select(F.explode(slices).alias("x"))
        .select(F.col("x.m").alias("m"), F.col("x.iv").alias("iv"))
        .persist()
    )
    try:
        # Seed IDS first, subvectors second: a duplicate id must raise,
        # never leave None codebook slots. Both seed jobs run on the
        # UNEXPLODED base (k full iv rows slice locally into the
        # k×subspaces subvectors); base.filter(isin) yields >k rows iff a
        # seed id repeats. (Row.__id needs item access — PySpark blocks
        # dunder attributes.)
        seed_ids = [
            r["__id"]
            for r in base.select("__id")
            .distinct()
            .orderBy(_seed_hash(F.col("__id")), "__id")
            .limit(k)
            .collect()
        ]
        if len(seed_ids) < k:
            raise ValueError(f"corpus has fewer than k={k} vectors")
        rank_of = {vid: i for i, vid in enumerate(seed_ids)}
        seed_rows = base.filter(F.col("__id").isin(seed_ids)).collect()
        if len(seed_rows) != k:
            raise ValueError(
                f"seed ids are not unique in the corpus: expected "
                f"{k * subspaces} (id, m) rows, got {len(seed_rows) * subspaces}"
            )
        cb: list[list[list[float]]] = [[None] * k for _ in range(subspaces)]
        for r in seed_rows:
            rank = rank_of[r["__id"]]
            for m in range(subspaces):
                cb[m][rank] = [
                    float(x) / float(int_scale)
                    for x in r.iv[m * sub : (m + 1) * sub]
                ]
        return _lloyd(sv, cb, iters, int_scale)
    finally:
        sv.unpersist()


def pq_encode_cb(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    int_scale: int = 1_000_000,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Encode against TRAINED codebooks (:func:`pq_train`) — the shared
    :func:`_pq_encode` pass of :func:`pq_encode`, with the input entering
    as iv/int_scale doubles (the space the codebooks were trained in), so
    encode distance and training distance are bit-compatible. Returns
    (id, *keep_cols, pq_codes 'c0,...', recon_err ROUND(6)); ties break
    to the smaller code (argmin-first).
    """
    return _pq_encode(
        df, _iv(F.col(vec_col), int_scale), codebooks, id_col, keep_cols, int_scale
    )


def ivf_assign_encode(
    df: DataFrame,
    cents: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    int_scale: int = 1_000_000,
    prepared: DataFrame | None = None,
) -> DataFrame:
    """:func:`ivf_assign` ⋈ :func:`pq_encode_cb` fused into ONE Arrow
    pass: the index build routes each vector to its trained cell AND
    encodes it against the trained codebooks from the same in-memory
    batch, emitting (id, cell, pq_codes) directly — no join-on-id
    shuffle between two passes (the id is unique, so the join result is
    exactly this row set). Cell argmin and per-subspace code argmin are
    the identical :func:`_argmin_cells` / :func:`_pq_codes` kernels the
    split operators use, so every value is unchanged. At 100 TB this is
    the difference between scanning the corpus twice plus shuffling it
    once, and scanning it once."""
    import numpy as np

    base = int_vectors(df, id_col, vec_col, int_scale) if prepared is None else prepared
    C = np.asarray(cents, dtype=np.float64)
    CB = np.asarray(codebooks, dtype=np.float64)

    def go(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = _vectors(pdf["iv"]) / float(int_scale)
            cellv, _ = _argmin_cells(X, C)
            codes, _ = _pq_codes(X, CB)
            yield pd.DataFrame(
                {
                    "__id": pdf["__id"].to_numpy(),
                    "cell": cellv.astype("int32"),
                    "pq_codes": _code_strings(codes),
                }
            )

    return base.mapInPandas(go, "__id long, cell int, pq_codes string").select(
        F.col("__id").alias(id_col), "cell", "pq_codes"
    )


def pq_adc_topk_cb(
    queries_pd,
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    int_scale: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k against TRAINED codebooks: probes enter
    as floor(x·int_scale)/int_scale doubles (the training space), then
    LUT build, scan and rank are the SHARED :func:`_adc_rank` of the
    lattice server :func:`pq_adc_topk` — only the probe vectors and the
    codebook tensor differ between the two."""
    import numpy as np

    Q = np.floor(_vectors(queries_pd[vec_col]) * int_scale) / float(int_scale)
    return _adc_rank(queries_pd, Q, codebooks, codes, k, id_col, cell_col)
