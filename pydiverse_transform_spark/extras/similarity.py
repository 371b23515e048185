"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  One pass, map-side only + a top-k reduction (TakeOrdered), no shuffle
  of the full table.
- ``signlsh_topk``: the scale path — random-hyperplane (sign) LSH with
  *deterministic, data-independent* hyperplanes derived from md5, so the
  bucketing is reproducible in any engine.  The query probes only its
  own bucket (optionally neighboring buckets by Hamming distance ≤ 1),
  turning a full scan into a partition-pruned candidate set; at 100 TB
  the bucket id becomes a partition/cluster key.

All arithmetic is done in float64 via built-in higher-order functions
(zip_with/aggregate) — JVM-side, no Python UDFs.
"""

from __future__ import annotations

import hashlib
import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..storage import hold, owned, scope
from .util import _small_corpus, render

_log = logging.getLogger(__name__)

__all__ = ["dot", "norm", "cosine", "cosine_topk", "hyperplanes",
           "signlsh_bucket", "signlsh_topk", "query_bucket",
           "write_bucketed", "signlsh_topk_bucketed",
           "ivf_centroids", "ivf_cell", "ivf_topk",
           "embedding_neardup_pairs", "semdedup_pairs", "semdedup",
           "semantic_contaminated_ids", "semantic_decontaminate",
           "kmeans_cell", "kmeans_seed_centroids", "kmeans_assign",
           "assign_cells", "assign_cells_multi",
           "kmeans_update", "kmeans_fit", "kmeans_spread_seeds",
           "kmeans_inertia",
           "pq_codebooks", "pq_fit", "pq_encode", "pq_topk",
           "pq_topk_coded", "write_ivfpq", "ivfpq_topk", "ivfpq_encode",
           "write_ivfpq_meta", "read_ivfpq_meta", "ivfpq_topk_auto",
           "ivfpq_fold_staging", "ivfpq_maintain", "ivfpq_recover",
           "opq_permutation", "permute_vec", "embedding_filter_new"]


def dot(a: Column, b: Column, f=F) -> Column:
    return f.aggregate(
        f.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        f.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero vector has norm 0 — cosine is then NULL in both
    # ANSI modes (bare `/` raises DIVIDE_BY_ZERO under the Spark 4 ANSI
    # default; the DuckDB oracle yields NULL).
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def _cosine_verified(pairs: DataFrame, keep: list, threshold: float,
                     cols=("va", "vb", "na", "nb"),
                     out: str = "cos_sim") -> DataFrame:
    """The sql lane's one thresholded-cosine definition: ``keep`` plus
    ``out`` = round(cosine, 6) of each candidate pair, from the two
    vectors and their per-row norms named in ``cols``, filtered to
    ``out >= threshold``.

    Norms are columns computed once per row before the join, so no
    candidate pair re-traverses its vectors for them.
    The cosine is projected FIRST and the filter reads the projected
    column: filtering the raw lambda expression lets constraint
    inference synthesize a predicate over one join side's attributes
    and push it to the other side — runtime
    INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND (r9, pinned in
    tests/test_r9_fixes.py).  A NaN cosine (NaN component) never
    matches: Spark orders NaN as LARGEST, so a bare ``>= threshold``
    would pass it.  A zero vector's cosine is NULL and fails too.
    Spark's round is half-up, so this lane is the oracle-exact form."""
    va, vb, na, nb = cols
    return (
        pairs.select(
            *keep,
            F.round(F.try_divide(dot(F.col(va), F.col(vb)),
                                 F.col(na) * F.col(nb)), 6).alias(out))
        .filter(~F.isnan(out) & (F.col(out) >= threshold))
    )


def _qlit(query_vec: list[float]) -> Column:
    from .util import lit_num_array

    return lit_num_array([float(v) for v in query_vec], "double")


def _require_dim(dim: int | None, vec_col: str) -> int:
    """Spark's ArrayType carries no element count, and sniffing it with a
    ``.first()`` would trigger a Spark job at plan-BUILD time (a hidden
    driver round-trip on a 100-TB table).  Make the caller state it."""
    if dim is None:
        raise ValueError(
            f"dim= is required: the length of {vec_col!r} cannot be read "
            "from the schema (ArrayType has no element count) and will "
            "not be sniffed with a driver-side action at plan-build time"
        )
    return int(dim)


def cosine_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                vec_col: str = "embedding", id_col: str = "vec_id"
                ) -> DataFrame:
    """Exact brute-force cosine top-k (ties broken by id)."""
    from .util import fan_out

    q = _qlit(query_vec)
    scored = fan_out(df).select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), q), 6).alias("cos_sim"),
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col).asc()).limit(k)


def hyperplanes(dim: int, n_planes: int, seed: str = "signlsh") -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1]: component (p, i)
    comes from md5(f"{seed}:{p}:{i}") — reproducible in any engine and in
    plain Python (used to embed the same constants in oracle SQL)."""
    planes = []
    for p in range(n_planes):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{i}".encode()).hexdigest()
            v = (int(h[:8], 16) % 2001 - 1000) / 1000.0
            row.append(v)
        planes.append(row)
    return planes


def signlsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Bucket id = bits of sign(plane · vec)."""
    out = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        d = dot(vec, _qlit(plane))
        out = out + F.when(d > 0, F.lit(2 ** p)).otherwise(F.lit(0))
    return out


def query_bucket(query_vec: list[float], n_planes: int = 4,
                 dim: int | None = None) -> int:
    """The LSH bucket a query vector falls into (plain-Python twin of
    :func:`signlsh_bucket` — same md5-derived hyperplanes)."""
    dim = dim or len(query_vec)
    planes = hyperplanes(dim, n_planes)
    qbits = 0
    for p, plane in enumerate(planes):
        if sum(a * float(b) for a, b in zip(plane, query_vec)) > 0:
            qbits += 2 ** p
    return qbits


def write_bucketed(df: DataFrame, path: str, vec_col: str = "embedding",
                   id_col: str = "vec_id", n_planes: int = 4,
                   dim: int | None = None) -> None:
    """The 100-TB write path: materialize the LSH bucket id as a parquet
    PARTITION column, so a query probes only its bucket's files (real
    partition pruning at the scan, ~1/2^n_planes of the data) instead of
    computing buckets over a full scan per query."""
    planes = hyperplanes(_require_dim(dim, vec_col), n_planes)
    (
        df.withColumn("bucket", signlsh_bucket(F.col(vec_col), planes))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


def signlsh_topk_bucketed(spark, path: str, query_vec: list[float],
                          k: int = 10, vec_col: str = "embedding",
                          id_col: str = "vec_id", n_planes: int = 4,
                          probe_adjacent: bool = False) -> DataFrame:
    """Top-k over a :func:`write_bucketed` table.  The bucket filter is a
    partition-column predicate — Catalyst prunes non-matching partitions
    before any file is opened.  ``probe_adjacent`` also scans buckets at
    Hamming distance 1 (better recall, n_planes+1 partitions scanned)."""
    qbits = query_bucket(query_vec, n_planes)
    buckets = [qbits]
    if probe_adjacent:
        buckets += [qbits ^ (1 << p) for p in range(n_planes)]
    from ..sources import spark_read_parquet as _srp
    df = _srp(spark, path)
    q = _qlit(query_vec)
    return (
        df.filter(F.col("bucket").isin(buckets))
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), q), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def embedding_neardup_pairs(df: DataFrame, threshold: float = 0.95,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id", n_planes: int = 4,
                            dim: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs WITHOUT the O(n²) cross
    join: vectors are sign-LSH bucketed (near-identical vectors land in
    the same bucket with high probability), candidates are the
    within-bucket pairs via a self-equi-join on the bucket id, and exact
    cosine verifies each candidate.  Returns (id_a, id_b, cos_sim) with
    id_a < id_b and cos_sim >= threshold.

    At 100 TB: the join shuffles on the bucket id (2^n_planes uniform-ish
    cells — raise n_planes to shrink cells), and only candidate pairs pay
    the exact-cosine cost."""
    planes = hyperplanes(_require_dim(dim, vec_col), n_planes)
    from .util import fan_out

    bucketed = fan_out(df).select(
        F.col(id_col), F.col(vec_col),
        signlsh_bucket(F.col(vec_col), planes).alias("__bucket"),
        norm(F.col(vec_col)).alias("__norm"),
    )
    a = bucketed.select(
        F.col("__bucket"), F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"), F.col("__norm").alias("na"),
    )
    b = bucketed.select(
        F.col("__bucket"), F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"), F.col("__norm").alias("nb"),
    )
    return _cosine_verified(
        a.join(b, on="__bucket", how="inner")
        .filter(F.col("id_a") < F.col("id_b")),
        ["id_a", "id_b"], threshold)


def ivf_centroids(dim: int, n_cells: int, seed: str = "ivf"
                  ) -> list[list[float]]:
    """Deterministic, data-independent coarse quantizer: unit-normalized
    md5-derived centroid directions (same recipe as :func:`hyperplanes`,
    then L2-normalized).  A trained k-means quantizer clusters tighter,
    but a fixed quantizer is reproducible in ANY engine — the property
    the correctness oracle needs — and the probing math is identical."""
    raw = hyperplanes(dim, n_cells, seed)
    out = []
    for row in raw:
        n = sum(v * v for v in row) ** 0.5 or 1.0
        out.append([v / n for v in row])
    return out


def ivf_cell(vec: Column | str,
             centroids: list[list[float]]) -> Column:
    """Cell id = argmax over centroids of (centroid · vec), ties to the
    lower cell id — the inverted-file assignment.

    Shape matters twice over: (a) scores land in ONE array and the
    argmax is `array_position(scores, array_max(scores))` (first
    occurrence = lower cell id) — the obvious when-chain fold
    references the running best TWICE per step, doubling the tree per
    centroid, exponential in n_cells (at 16 trained cells the plan
    never finishes analyzing; found by scripts/bench_quantizer.py);
    (b) the centroids are a literal nested-array looped by `transform`
    at RUNTIME, not unrolled into n_cells copies of the dot product —
    unrolling generated ~1 MB task binaries and seconds of codegen per
    query at realistic sizes.

    A ``str`` argument is a column NAME: the whole argmax then parses
    as ONE SQL expression — 3 py4j round-trips instead of ~600 (r14)."""
    return render(_ivf_cell, vec, centroids)


def _ivf_cell(f, vec, centroids):
    scores = f.transform(_cent_lit(centroids, f), lambda c: dot(vec, c, f))
    return (f.array_position(scores, f.array_max(scores)) - 1).cast("int")


def _query_probe_cells(query_vec, centroids, nprobe: int,
                       metric: str = "l2") -> list[int]:
    """Driver-side selection of the query's ``nprobe`` closest cells,
    vectorized: one numpy matvec over the (k, dim) centroid matrix
    instead of a pure-Python O(k·dim) loop — at the k~10⁵ coarse
    quantizers the assignment stack supports, the Python loop costs
    seconds PER QUERY while the matvec is milliseconds.  Ties break to
    the lower cell id (lexsort over (key, cid)), matching ivf_cell /
    kmeans_cell / the numpy assignment kernel."""
    import numpy as np

    cm = np.asarray(centroids, dtype=np.float64)
    q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    if metric == "dot":
        key = -(cm @ q)            # argmax dot == argmin -dot
    else:
        d = cm - q
        key = np.einsum("ij,ij->i", d, d)
    order = np.lexsort((np.arange(len(cm)), key))
    return [int(c) for c in order[:nprobe]]


def ivf_topk(df: DataFrame, query_vec: list[float], k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id",
             n_cells: int = 8, nprobe: int = 2,
             dim: int | None = None,
             centroids: list[list[float]] | None = None) -> DataFrame:
    """IVF-style approximate top-k: score only vectors whose cell is one
    of the query's ``nprobe`` closest cells — scans ~nprobe/n_cells of
    the data.  At scale, materialize the cell id as a partition key
    (same pattern as :func:`write_bucketed`) for real pruning.

    ``centroids=`` swaps in a trained coarse quantizer (e.g.
    :func:`kmeans_fit` with ``spherical=True`` — cells are assigned by
    argmax dot product, so centroids should be unit-normalized); default
    is the fixed md5-derived quantizer, reproducible in any engine."""
    dim = dim or len(query_vec)
    if centroids is None:
        centroids = ivf_centroids(dim, n_cells)
    else:
        n_cells = len(centroids)
    # ties to the lower cell id, like ivf_cell
    probe = _query_probe_cells(query_vec, centroids, nprobe, metric="dot")
    q = _qlit(query_vec)
    from .util import fan_out

    celled = fan_out(df).withColumn(
        "__cell", ivf_cell(vec_col, centroids)
    )
    return (
        celled.filter(F.col("__cell").isin(probe))
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), q), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def signlsh_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 n_planes: int = 4, dim: int | None = None) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket.
    With B buckets this scans ~1/B of the data; at scale, use
    :func:`write_bucketed` + :func:`signlsh_topk_bucketed` for real
    partition pruning."""
    dim = dim or len(query_vec)
    planes = hyperplanes(dim, n_planes)
    qbits = query_bucket(query_vec, n_planes, dim)
    q = _qlit(query_vec)
    from .util import fan_out

    bucketed = fan_out(df).withColumn(
        "__bucket", signlsh_bucket(F.col(vec_col), planes)
    )
    return (
        bucketed.filter(F.col("__bucket") == F.lit(qbits))
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), q), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


# =============================================================================
# k-means coarse quantizer training (learned IVF centroids)
# =============================================================================
#
# The fixed md5-derived quantizer above is reproducible in any engine —
# the property the correctness oracle needs — but a TRAINED quantizer
# clusters real data tighter (higher recall at the same nprobe).  This
# is the Lloyd iteration re-expressed in Spark's execution model:
#
# - ASSIGN is a pure map: the k centroids are literal constants folded
#   into a whole-stage-codegen argmin expression (`kmeans_cell`) — no
#   join, no shuffle, no driver round-trip per row.  Exactly how MLlib
#   broadcasts centroids, minus the RDD layer.
# - UPDATE is posexplode -> groupBy(cid, pos).sum: hash aggregation
#   with MAP-SIDE PARTIAL COMBINE, so each task reduces its split to at
#   most k*dim partial sums before the shuffle — the shuffle volume is
#   k*dim*n_tasks rows regardless of corpus size (treeAggregate-shaped),
#   never the corpus itself.
# - Per iteration the driver collects exactly k centroids (k*dim
#   floats), the same reduce-to-driver/broadcast-back cycle every
#   distributed k-means uses.  Training is inherently an action;
#   plan-building queries stay job-free.


def _sq_l2(a: Column, b: Column, f=F) -> Column:
    """Squared L2 distance in float64 (zip_with/aggregate, JVM-side)."""
    return f.aggregate(
        f.zip_with(
            a, b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        f.lit(0.0),
        lambda acc, v: acc + v,
    )


def kmeans_cell(vec: Column | str,
                centroids: list[list[float]]) -> Column:
    """Cell id = argmin over literal centroids of squared L2 distance,
    ties to the lower cell id.  Pure codegen expression — the map-only
    assignment used by :func:`kmeans_fit` and scoring pipelines.

    Same linear argmin shape as :func:`ivf_cell` (distances in one
    array, `array_position` of the min, centroids runtime-looped via
    `transform` over a literal nested array): the when-chain fold is
    exponential in k and stalls the analyzer at realistic k, and
    unrolled per-centroid expressions bloat codegen ~k-fold.

    A ``str`` argument is a column NAME: one SQL parse instead of ~600
    py4j round-trips of Column composition (r14)."""
    return render(_kmeans_cell, vec, centroids)


def _kmeans_cell(f, vec, centroids):
    dists = f.transform(_cent_lit(centroids, f),
                        lambda c: _sq_l2(vec, c, f))
    return (f.array_position(dists, f.array_min(dists)) - 1).cast("int")


def kmeans_seed_centroids(df: DataFrame, k: int,
                          vec_col: str = "embedding",
                          id_col: str = "vec_id") -> DataFrame:
    """Deterministic seeds as a DataFrame (cid, centroid): the vectors of
    the k smallest ids, numbered in id order.  Engine-independent (the
    same rule is one ORDER BY ... LIMIT k in any SQL dialect), so a
    single Lloyd step seeded this way is oracle-checkable."""
    from pyspark.sql import Window

    w = Window.orderBy(F.col(id_col).asc())
    return (
        df.select(id_col, vec_col)
        .orderBy(F.col(id_col).asc())
        .limit(k)
        .select(
            (F.row_number().over(w) - 1).alias("cid"),
            F.transform(F.col(vec_col),
                        lambda v: v.cast("double")).alias("centroid"),
        )
    )


def _farthest_first(np, X, norms, n: int) -> list[int]:
    """Greedy k-center sweep over the rows of X, starting at row 0
    (the pool is hash-ordered, so row 0 = smallest hash).  Ties go to
    the earlier row (np.argmax returns the first maximum).  Squared
    distances are clamped at 0: the ||x||²-2x·s+||s||² expansion can go
    infinitesimally negative for near-identical vectors, and a -1e-16
    vs 0.0 would perturb the tie contract."""
    def dists_to(i):
        s = X[i]
        return np.maximum(norms - 2.0 * (X @ s) + float(s @ s), 0.0)

    chosen = [0]
    mind = dists_to(0)
    for _ in range(n - 1):
        far = int(np.argmax(mind))
        chosen.append(far)
        np.minimum(mind, dists_to(far), out=mind)
    return chosen


def kmeans_spread_seeds(df: DataFrame, k: int,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id",
                        oversample: int = 8,
                        salt: str = "kmeans-seeds",
                        hierarchical: bool | str = "auto",
                        coarse_k: int | None = None) -> list[list[float]]:
    """Deterministic k-means‖-style seeding: hash-spread candidate
    oversample → farthest-first reduce.

    The r5 smallest-id seeding is degenerate when low ids are
    correlated with content (a time-ordered corpus seeds every centroid
    from the same day).  This keeps the engine-reproducibility contract
    (no RNG — every choice is a pure function of the rows) while
    decorrelating seeds from id order:

    1. **Candidate oversample** (distributed, one TakeOrdered pass):
       the ``oversample * k`` rows with the smallest ``md5(id || salt)``
       — an id-hash is position- and time-independent, so candidates
       spread pseudo-uniformly over the corpus however it is sorted.
    2. **Farthest-first reduce** (driver-side, vectorized numpy):
       start from the smallest-hash candidate, then greedily add the
       candidate with the largest min-distance to the chosen set (ties
       to the earlier candidate) — the classic 2-approximation k-center
       sweep, which guarantees spread-out seeds instead of hoping the
       hash draw avoids collisions.  Each step is ONE BLAS matvec
       min-distance update over the L = oversample·k candidates
       (r7's pure-Python ``sum(zip())`` loop was the k-scaling
       bottleneck once assignment went flat-plan: ~10^10 interpreted
       FLOPs at k=10^4; the vectorized sweep is seconds there —
       ASSIGN_SWEEP_r08.json).  Total cost O(oversample·k²·dim) FLOPs
       in BLAS — fine through k~10^4.
    3. **Hierarchical reduce** (``hierarchical``, default ``"auto"`` =
       on for k >= 4096): the flat sweep is O(k·L) matvecs, ~20 min at
       SemDeDup's ~110k cells.  Instead: farthest-first √k coarse
       seeds over the pool, assign every pool vector to its nearest
       coarse seed (ties to the lower coarse index, one chunked BLAS
       matmul), give each coarse cell a seed quota proportional to its
       pool share (largest-fraction rounding, ties to the lower cell,
       capped at the cell's pool size), then run the flat sweep INSIDE
       each cell.  Cost drops to O(√k·L) matvecs; the result is still a
       pure function of the rows (no RNG), but is a different — equally
       spread-targeting — deterministic sequence than the flat sweep,
       so switching modes on an existing pipeline changes centroids.
       ``coarse_k`` overrides the √k default.  Driver memory is the
       pool itself: L·dim·8 B (~450 MB at k=110k, dim 64, oversample 8
       — lower ``oversample`` first at larger k·dim).

    .. note:: **Behavior change (r8).**  ``hierarchical`` defaults to
       ``"auto"``, which turns the hierarchical reduce ON at
       k >= 4096.  A pipeline that fit seeds at such k before r8 got
       the flat sweep's sequence; re-running it now yields different
       (equally valid) centroids, and a re-fit against data celled by
       the old seeds will not reproduce them.  Pass
       ``hierarchical=False`` to reproduce pre-r8 seed sequences
       exactly.
    """
    if oversample < 1:
        raise ValueError(f"oversample must be >= 1, got {oversample}")
    if hierarchical not in (True, False, "auto"):
        raise ValueError("hierarchical must be True, False or 'auto', "
                         f"got {hierarchical!r}")
    import numpy as np

    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    cand_rows = (
        df.select(F.col(id_col), F.col(vec_col), h.alias("__h"))
        .orderBy(F.col("__h").asc(), F.col(id_col).asc())
        .limit(oversample * k)
        .collect()
    )
    if len(cand_rows) < k:
        raise ValueError(f"k={k} exceeds the number of input rows "
                         f"({len(cand_rows)})")
    X = np.asarray([list(r[vec_col]) for r in cand_rows],
                   dtype=np.float64)
    norms = (X * X).sum(axis=1)
    if hierarchical == "auto":
        hierarchical = k >= 4096

    if not hierarchical or k < 4:
        chosen = _farthest_first(np, X, norms, k)
        return [[float(v) for v in X[i]] for i in chosen]

    ck = min(coarse_k or int(np.ceil(np.sqrt(k))), k, len(X))
    coarse = X[_farthest_first(np, X, norms, ck)]
    # nearest coarse seed per pool vector: argmax x·c - ||c||²/2 with
    # first-max-wins ties (same contract as the assignment kernel)
    half = 0.5 * (coarse * coarse).sum(axis=1)
    lab = np.concatenate(_row_chunked(ck)(
        lambda xe: np.argmax(xe @ coarse.T - half, axis=1), X))
    counts = np.bincount(lab, minlength=ck)
    raw = k * counts / float(len(X))
    quota = np.minimum(np.floor(raw).astype(np.int64), counts)
    # distribute the remainder by largest fractional part (ties to the
    # lower cell), skipping cells whose pool is exhausted; total pool
    # size >= k guarantees termination
    order = np.lexsort((np.arange(ck), -(raw - np.floor(raw))))
    i = 0
    while quota.sum() < k:
        c = order[i % ck]
        if quota[c] < counts[c]:
            quota[c] += 1
        i += 1
    out: list[list[float]] = []
    for c in range(ck):
        if quota[c] == 0:
            continue
        members = np.nonzero(lab == c)[0]       # ascending pool order
        Xi = X[members]
        loc = _farthest_first(np, Xi, (Xi * Xi).sum(axis=1),
                              int(quota[c]))
        out.extend([float(v) for v in Xi[j]] for j in loc)
    return out


def kmeans_inertia(df: DataFrame, centroids: list[list[float]],
                   vec_col: str = "embedding") -> float:
    """Total squared-L2 distance of every row to its nearest centroid —
    the quantity Lloyd iteration minimizes.  One map-only pass + a
    scalar aggregate; used for seeding A/B comparisons (SCALE.md)."""
    cens = _cent_lit(centroids)
    d = F.array_min(F.transform(cens, lambda c: _sq_l2(F.col(vec_col), c)))
    row = df.agg(F.sum(d).alias("i")).collect()[0]
    return float(row["i"])


def kmeans_assign(df: DataFrame, centroids: DataFrame,
                  vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Assignment against a centroid DATAFRAME (cid, centroid): broadcast
    cross join with the k centroid rows, argmin by (d2, cid) via a
    map-side-combinable min(struct) aggregate.  Used when centroids are
    table-derived (the oracle-checkable step); the fit loop uses the
    join-free :func:`kmeans_cell` instead.  Returns (id, cid, d2, vec)."""
    scored = (
        df.select(id_col, vec_col)
        .crossJoin(F.broadcast(centroids))
        .select(
            F.col(id_col), F.col(vec_col), F.col("cid"),
            _sq_l2(F.col(vec_col), F.col("centroid")).alias("__d2"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(F.min(F.struct("__d2", "cid", vec_col)).alias("b"))
        .select(
            F.col(id_col),
            F.col("b.cid").alias("cid"),
            F.col("b.__d2").alias("d2"),
            F.col(f"b.{vec_col}").alias(vec_col),
        )
    )


def _centroid_matrix(centroids):
    """(cids, matrix) as numpy from either a ``list[list[float]]`` or a
    (cid, centroid) DataFrame.  The collect is the MODEL, not data —
    O(k x dim) rows, the same bounded fold every fit function does."""
    import numpy as np

    if isinstance(centroids, DataFrame):
        rows = centroids.select("cid", "centroid").collect()
        rows.sort(key=lambda r: r["cid"])
        cids = np.array([int(r["cid"]) for r in rows], dtype=np.int64)
        mat = np.asarray([list(r["centroid"]) for r in rows],
                         dtype=np.float64)
    else:
        cids = np.arange(len(centroids), dtype=np.int64)
        mat = np.asarray(centroids, dtype=np.float64)
    if mat.ndim != 2 or mat.shape[0] == 0:
        raise ValueError("centroids must be a non-empty k x dim matrix")
    return cids, mat


# Plan-literal argmin up to this many centroids (assign_cells,
# ivfpq_encode) or codes per subspace (pq_encode, pq_fit); above it the
# broadcast-matrix kernel (:func:`_nearest_map`), whose plan is flat in
# k.  Evidence per lane: docs/SCALE_KNOBS.md, LANES.
_LITERAL_MAX_K = 256


def _row_chunked(k: int):
    """``chunked(f, x)``: the per-chunk math ``f`` applied to row chunks
    of ``x``, one result per chunk.  A chunk's rows x ``k`` float64
    score block stays at ~128 MB: at SemDeDup-scale k (~110k cells) a
    whole 10k-row Arrow batch would be an 8.8 GB block.  Returned as a
    closure so executor kernels carry it by value and never import
    this module."""
    step = max(1, (16 << 20) // max(k, 1))

    def chunked(f, x):
        return [f(x[s:s + step]) for s in range(0, len(x), step)]

    return chunked


def _nearest_map(df: DataFrame, vec_col: str, out_field, mat, cids,
                 math, invalid=None) -> DataFrame:
    """The broadcast-matrix nearest-centroid kernel behind
    assign_cells' numpy lane, :func:`assign_cells_multi` and
    pq_encode's numpy lane.  ``mat`` is k x dim centroids (or m
    subspaces x k x dsub codebooks); it rides one executor broadcast
    with its half-norms ``||c||²/2`` and ``cids`` — NOT the plan, so
    the plan is flat in k.  Per Arrow batch, the valid vectors (non-null,
    length dim) stack into one float64 matrix, and
    ``math(rows, cids, mat, half)`` maps each ~128 MB row chunk
    (:func:`_row_chunked`) to a list of per-row output values: one BLAS
    matmul per chunk instead of an interpreted Catalyst fold per row.
    Invalid rows get ``invalid`` — the literal lanes' contract, whose
    zip_with pads a wrong-length vector with nulls and null-propagates.
    ``out_field`` is appended to the input schema."""
    from pyspark.sql.types import IntegerType, StructType

    k = mat.shape[-2]
    dim = mat.size // k
    bc = df.sparkSession.sparkContext.broadcast(
        (cids, mat, 0.5 * (mat * mat).sum(axis=-1)))
    # StructType.add mutates in place — build a fresh schema
    schema = StructType(list(df.schema.fields) + [out_field])
    out_col = out_field.name
    scalar = isinstance(out_field.dataType, IntegerType)
    chunked = _row_chunked(k)

    def kernel(batches):
        from itertools import chain

        import numpy as np
        import pandas as pd

        model = bc.value
        for pdf in batches:
            vs = pdf[vec_col]
            out = [invalid] * len(vs)
            valid = [i for i, v in enumerate(vs)
                     if v is not None and len(v) == dim]
            if valid:
                if len(valid) == len(vs):
                    # no-null fast path: one vectorized stack, no
                    # per-row Python list building
                    x = np.stack(vs.to_numpy()).astype(
                        np.float64, copy=False)
                else:
                    x = np.asarray(
                        [np.asarray(vs.iloc[i], dtype=np.float64)
                         for i in valid])
                vals = chain.from_iterable(
                    chunked(lambda xe: math(xe, *model), x))
                for i, v in zip(valid, vals):
                    out[i] = v
            pdf = pdf.copy()
            pdf[out_col] = pd.array(out, dtype="Int32") if scalar else out
            yield pdf

    return df.mapInPandas(kernel, schema)


def _assign_cells_numpy(df: DataFrame, centroids, vec_col: str,
                        out_col: str) -> DataFrame:
    """Map-only large-k cell assignment on :func:`_nearest_map` — the
    path that stays viable at SemDeDup's published ~110k clusters where
    a plan-literal argmin would be a ~50 MB plan and an interpreted
    100k-iteration loop per row."""
    from pyspark.sql.types import IntegerType, StructField
    import numpy as np

    cids, mat = _centroid_matrix(centroids)

    # argmin ||x-c||^2 == argmax (x . c - ||c||^2 / 2).  Ties go to the
    # LOWEST cid (np.argmax returns the first maximal index and cids are
    # sorted) — same contract as the literal argmin.
    def nearest(x, cids_, mat_, half):
        return cids_[np.argmax(x @ mat_.T - half, axis=1)].tolist()

    return _nearest_map(df, vec_col, StructField(out_col, IntegerType()),
                        mat, cids, nearest)


def assign_cells(df: DataFrame, centroids, vec_col: str = "embedding",
                 out_col: str = "__cell",
                 method: str = "auto") -> DataFrame:
    """Add a quantizer-cell column, choosing the physical strategy by
    model size.  ``centroids`` is either a ``list[list[float]]`` or a
    (cid, centroid) DataFrame (what :func:`kmeans_fit` /
    :func:`kmeans_update` produce) — the r6 ceiling where SemDeDup &
    friends only took plan-literal centroids is gone.

    - ``literal`` — :func:`kmeans_cell` codegen argmin.  Plan size and
      per-row interpreted-fold cost grow with k x dim; right for small
      k (<= 256), wrong at SemDeDup's ~110k clusters.
    - ``numpy`` — Arrow-batched ``mapInPandas``; centroid matrix on an
      executor BROADCAST, one BLAS matmul per batch.  Map-only (zero
      shuffle), plan size flat in k: the large-k / 100-TB path.
    - ``auto`` — literal when a plain list with k <= 256, else numpy.

    Tie contract everywhere: equal distance -> LOWEST cid.

    Edge-input contract (fuzzed across strategies, and against
    :func:`assign_cells_multi`'s nearest cell, in
    ``tests/test_fuzz_assign.py``):

    - NULL vector, or vector whose length differs from the centroid
      dim (incl. empty) -> NULL cell, all strategies.
    - Any NaN component -> the LOWEST cid, all strategies (every
      distance is NaN; Catalyst's ``array_position(.., array_min)``
      resolves the all-NaN tie to the first element and BLAS argmax
      returns the first NaN — two different mechanisms, one answer).
    - NULL components (a non-null array containing nulls): NULL cell
      on literal (null-propagating distance); the numpy path CANNOT
      distinguish them — Arrow converts null elements to NaN — so it
      follows the NaN contract (lowest cid).
    - ±Inf components and magnitudes beyond ~1e154: STRATEGY-
      DEPENDENT.  literal computes ||x-c||², which overflows to +Inf
      for every centroid and collapses to the lowest cid; numpy
      computes x·c - ||c||²/2, which stays finite (or keeps ±Inf's
      sign) and resolves by direction.  Do not feed unscaled
      astronomical magnitudes to a k-means quantizer and expect
      strategy-identical cells.
    - Near-ties below formulation rounding error: STRATEGY-DEPENDENT.
      literal evaluates Σ(x−c)² directly; its rounding error is
      O(dim · ulp((max|x|+max|c|)²)) — roughly one ulp of ||x||².
      When the true winning margin between the two best cells is
      smaller than that, the direct form sees an exact tie and
      tie-breaks to the lowest cid, while the numpy path's
      x·c − ||c||²/2 never squares the dominant components, keeps the
      margin, and returns the true argmin — the dot-trick is the MORE
      accurate formulation here, so the divergence is the direct
      form's rounding, not a numpy bug (r8 fuzz finding: margin 2e-5
      under ||x||²≈1e12, ulp≈2.4e-4).

    The guaranteed-agreement domain is therefore: finite vectors,
    |v| < ~1e150, AND winning margin above a few ulps of the largest
    squared term.  ``tests/test_fuzz_assign.py`` asserts exact
    agreement above that tolerance and membership in the near-tied
    cell set below it."""
    if method not in ("auto", "literal", "numpy"):
        raise ValueError(f"method must be auto|literal|numpy, "
                         f"got {method!r}")
    if method == "auto":
        method = ("literal"
                  if not isinstance(centroids, DataFrame)
                  and len(centroids) <= _LITERAL_MAX_K else "numpy")
    if method == "literal":
        if isinstance(centroids, DataFrame):
            import numpy as np

            cids, mat = _centroid_matrix(centroids)
            if not np.array_equal(cids, np.arange(len(cids))):
                raise ValueError(
                    "literal assignment needs contiguous cids 0..k-1 "
                    "(kmeans_cell returns positional indexes); use "
                    "method='numpy' for arbitrary cid labels")
            centroids = mat.tolist()
        # column-NAME form: one SQL parse per assignment (r14)
        return df.withColumn(out_col, kmeans_cell(vec_col, centroids))
    return _assign_cells_numpy(df, centroids, vec_col, out_col)


def assign_cells_multi(df: DataFrame, centroids, n_probe: int = 2,
                       vec_col: str = "embedding",
                       out_col: str = "__cells",
                       probe_margin: float | None = None) -> DataFrame:
    """MULTI-probe cell assignment: attach the ``n_probe`` nearest
    cells (ascending distance, ties to lower cid) as an array column.
    Numpy broadcast-matrix kernel only — same scale shape as
    :func:`assign_cells` method='numpy' (map-only, plan flat in k).

    Why: single-cell blocking misses near-dup pairs that straddle a
    cell boundary (the SemDeDup sweep measured 42 of 18k replica rows
    escaping at n_probe=1, SEMDEDUP_SWEEP_r07.json); probing the 2
    nearest cells makes each vector a candidate in both, closing the
    boundary gap for ~n_probe x candidate volume.

    ``probe_margin`` (Euclidean distance units) prunes that cost: a
    secondary cell is kept only while ``dist(x, cell) <=
    dist(x, nearest) + probe_margin``, so only vectors actually near a
    cell boundary pay the extra candidacy (output arrays are variable
    length 1..n_probe).  Coverage guarantee: for any pair with
    ``||x - y|| <= margin/2``, x probes y's home cell or vice versa
    (triangle inequality: ``d(x, c1y) <= d(y, c1y) + ||x-y|| <=
    d(y, c1x) + ||x-y|| <= d(x, c1x) + 2||x-y||``), so a margin of
    ``2 * max_pair_distance`` misses nothing n_probe-unbounded probing
    would have caught within n_probe cells."""
    from pyspark.sql.types import ArrayType, IntegerType, StructField
    import numpy as np

    if n_probe < 1:
        raise ValueError(f"n_probe must be >= 1, got {n_probe}")
    if probe_margin is not None and probe_margin < 0:
        raise ValueError(f"probe_margin must be >= 0, got {probe_margin}")
    cids, mat = _centroid_matrix(centroids)
    if n_probe > len(cids):
        raise ValueError(f"n_probe={n_probe} exceeds k={len(cids)}")

    def probes(x, cids_, mat_, half):
        scores = -(x @ mat_.T - half)  # ascending d2/2
        # STABLE argsort: columns are in ascending-cid order (sorted in
        # _centroid_matrix), so equal distances resolve to the lower
        # cid everywhere — including at the selection boundary, where
        # argpartition would pick arbitrarily among straddling ties and
        # make the probe set nondeterministic.  O(k log k)/row vs O(k),
        # but vectorized C either way; determinism wins.
        o = np.argsort(scores, axis=1, kind="stable")[:, :n_probe]
        sel = cids_[o].tolist()
        if probe_margin is None or n_probe == 1:
            return sel
        # true distances of the selected cells: d^2 = 2*score + ||x||^2
        # (score = ||c||^2/2 - x.c), clamped against FP-negative zeros
        xn2 = (x * x).sum(axis=1)[:, None]
        dsel = np.sqrt(np.maximum(
            2.0 * np.take_along_axis(scores, o, axis=1) + xn2, 0.0))
        within = dsel <= dsel[:, :1] + probe_margin
        # the nearest cell is always kept (guards the all-NaN-distance
        # row, where <= is false everywhere and the prefix would be
        # empty)
        keep = np.maximum(within.sum(axis=1), 1).tolist()
        return [r[:n] for r, n in zip(sel, keep)]

    return _nearest_map(df, vec_col,
                        StructField(out_col, ArrayType(IntegerType())),
                        mat, cids, probes)


def _centroids_as_df(spark, centroids: list[list[float]]) -> DataFrame:
    """(cid, centroid) DataFrame from a plain centroid list."""
    return spark.createDataFrame(
        [(i, [float(v) for v in c]) for i, c in enumerate(centroids)],
        "cid int, centroid array<double>",
    )


def kmeans_update(assigned: DataFrame, vec_col: str = "embedding"
                  ) -> DataFrame:
    """Recompute per-cell means + stats from an assignment carrying
    (cid, d2, vec).  Returns (cid, n_members, centroid, inertia).

    posexplode -> groupBy(cid, pos) rides hash aggregation's map-side
    partial combine: each task emits <= k*dim partial sums, so the
    shuffle never scales with corpus size."""
    ex = assigned.select(
        "cid", F.posexplode(F.col(vec_col)).alias("pos", "v")
    )
    dims = (
        ex.groupBy("cid", "pos")
        .agg(F.sum(F.col("v").cast("double")).alias("s"),
             F.count(F.lit(1)).alias("n"))
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s", "n"))),
                lambda t: t["s"] / t["n"],
            ).alias("centroid")
        )
    )
    stats = assigned.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("d2").alias("inertia"),
    )
    return stats.join(dims, "cid").select(
        "cid", "n_members", "centroid", "inertia"
    )


def _seed_vectors(df: DataFrame, k: int, seeding: str, vec_col: str,
                  id_col: str) -> list[list[float]]:
    """Shared seeding dispatch for :func:`kmeans_fit` / :func:`pq_fit`."""
    if seeding == "spread":
        return kmeans_spread_seeds(df, k, vec_col=vec_col, id_col=id_col)
    if seeding == "smallest_id":
        seed_rows = (
            df.select(id_col, vec_col).orderBy(F.col(id_col).asc())
            .limit(k).collect()
        )
        if len(seed_rows) < k:
            raise ValueError(f"k={k} exceeds the number of input rows "
                             f"({len(seed_rows)})")
        return [[float(v) for v in r[vec_col]] for r in seed_rows]
    raise ValueError(f"seeding must be 'spread' or 'smallest_id', "
                     f"got {seeding!r}")


def kmeans_fit(df: DataFrame, k: int, n_iter: int = 5,
               vec_col: str = "embedding", id_col: str = "vec_id",
               dim: int | None = None,
               spherical: bool = False,
               seeding: str = "spread",
               assign_method: str = "auto") -> list[list[float]]:
    """Train k centroids by Lloyd iteration (deterministic: hash-spread
    farthest-first seeding by default — see
    :func:`kmeans_spread_seeds`; ``seeding="smallest_id"`` restores the
    r5 ORDER BY id LIMIT k seeds, which degrade when low ids are
    content-correlated; ties in assignment to the lower cell id).

    Per iteration: one map-only assignment pass + one combine-heavy
    aggregation whose shuffle is O(k * dim * n_tasks), then k rows
    collected to the driver and folded back in as literals — the
    standard distributed k-means cycle.  ``spherical=True`` L2-normalizes
    each updated centroid, which is the right quantizer for cosine/IVF
    search (:func:`ivf_topk` assigns by argmax dot product); leave False
    for Euclidean clustering.  Empty cells keep their previous centroid.

    The assignment pass dispatches through :func:`assign_cells`
    (``assign_method``, default auto: codegen argmin at small k, the
    flat-plan broadcast-matrix kernel above 256) — so training at
    SemDeDup-scale k (10^4-10^5 cells) is viable, not just scoring.
    """
    dim = _require_dim(dim, vec_col)
    from .util import fan_out

    base = fan_out(df.select(id_col, vec_col))
    centroids = _seed_vectors(df, k, seeding, vec_col, id_col)

    def _norm(c: list[float]) -> list[float]:
        n = sum(v * v for v in c) ** 0.5 or 1.0
        return [v / n for v in c]

    if spherical:
        centroids = [_norm(c) for c in centroids]
    for _ in range(n_iter):
        assigned = assign_cells(
            base, centroids, vec_col=vec_col, out_col="cid",
            method=assign_method,
        ).select(F.col(id_col), F.col("cid"), F.col(vec_col))
        ex = assigned.select(
            "cid", F.posexplode(F.col(vec_col)).alias("pos", "v")
        )
        rows = (
            ex.groupBy("cid", "pos")
            .agg(F.sum(F.col("v").cast("double")).alias("s"),
                 F.count(F.lit(1)).alias("n"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "s", "n"))),
                    lambda t: t["s"] / t["n"],
                ).alias("centroid")
            )
            .collect()
        )
        new = {int(r["cid"]): [float(v) for v in r["centroid"]]
               for r in rows}
        centroids = [
            (_norm(new[c]) if spherical else new[c]) if c in new
            else centroids[c]
            for c in range(k)
        ]
    return centroids


# ---------------------------------------------------------------------------
# Product quantization (PQ): compress dim-float vectors to m small codes and
# answer top-k with asymmetric distance computation (ADC) over a per-query
# lookup table — the standard memory/IO-compression layer for billion-vector
# ANN (Jégou et al. 2011).  At 100 TB of float32 embeddings, 8x16 PQ codes
# shrink the scanned bytes ~32x; the codes column becomes the hot table and
# the raw vectors are only fetched to re-rank the candidate pool.
# ---------------------------------------------------------------------------

def pq_codebooks(dim: int, m: int = 8, k: int = 16, seed: str = "pq"
                 ) -> list[list[list[float]]]:
    """Fixed md5-derived codebooks: m subspaces x k sub-centroids of
    dim/m components in [-1, 1].  Data-independent and reproducible in
    any engine (same recipe as :func:`hyperplanes` per subspace) — the
    quantizer the correctness oracle can re-derive; train
    :func:`pq_fit` for tighter cells in production."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    return [hyperplanes(dim // m, k, seed=f"{seed}:{j}") for j in range(m)]


def pq_encode(df: DataFrame, codebooks: list[list[list[float]]],
              vec_col: str = "embedding",
              code_col: str = "pq_code",
              method: str = "auto") -> DataFrame:
    """Attach the PQ code (array<int>, one sub-centroid id per
    subspace).  Two physical strategies, dispatched like
    :func:`assign_cells` (encoding is the BULK pass over the corpus,
    so the same interpreted-fold ceiling applies in the k_codes
    dimension that r7/r8 retired in the coarse-cell dimension):

    - ``literal`` — per subspace, argmin squared-L2 between the vector
      slice and the literal sub-centroids (the :func:`kmeans_cell`
      shape, map-only codegen).  Per-row cost and plan size grow with
      m x k_codes x dsub; right at the shipped 8x16 default, wrong at
      FAISS-typical k_codes=256 with wide m.
    - ``numpy`` — Arrow-batched kernel: codebooks ride one executor
      broadcast as an (m, k, dsub) array, each subspace's argmin is a
      BLAS matmul per chunk.  Plan flat in m x k_codes.
    - ``auto`` — literal when k_codes <= 256 (the assign_cells
      threshold), else numpy.

    Contract (both paths, fuzz-pinned in tests/test_pq.py): ties to
    the LOWEST code id; a null vector or one whose length differs from
    m x dsub yields a code array of m nulls."""
    k_codes = len(codebooks[0])
    if method not in ("auto", "literal", "numpy"):
        raise ValueError(f"method must be auto|literal|numpy, "
                         f"got {method!r}")
    if method == "auto":
        method = "literal" if k_codes <= _LITERAL_MAX_K else "numpy"
    if method == "numpy":
        return _pq_encode_numpy(df, codebooks, vec_col, code_col)
    # the whole code expression is ONE SQL parse (r14): a
    # Column-by-Column build pays ~6k py4j round-trips (~1 s) per
    # fresh plan
    code = render(_pq_code, vec_col, codebooks)
    return df.withColumn(code_col, code)


def _pq_code(f, vec, codebooks):
    """Spec of the literal PQ code: the bind-struct of the m sub-vector
    slices, then a per-subspace :func:`kmeans_cell` argmin."""
    from .util import bind

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    # bind the m sub-vector slices once — a slice captured inside
    # kmeans_cell's per-centroid transform would re-slice k times
    slices = f.struct(*[f.slice(vec, j * dsub + 1, dsub).alias(f"s{j}")
                        for j in range(m)])
    code = bind(slices, lambda s: f.array(*[
        _kmeans_cell(f, s[f"s{j}"], codebooks[j]) for j in range(m)]), f)
    # wrong-LENGTH vectors would otherwise encode their full leading
    # subspaces and null the rest — gate to the all-null contract the
    # numpy path implements (a null vector already null-propagates to
    # m nulls through the slices)
    return f.when(f.size(vec) == m * dsub, code).otherwise(
        f.array(*[f.lit(None).cast("int")] * m))


def _pq_encode_numpy(df: DataFrame, codebooks, vec_col: str,
                     code_col: str) -> DataFrame:
    """Large-codebook PQ encoding on :func:`_nearest_map`: the
    (m, k, dsub) codebooks are one broadcast model, each subspace's
    argmin one BLAS matmul per row chunk."""
    from pyspark.sql.types import ArrayType, IntegerType, StructField
    import numpy as np

    cb = np.asarray(codebooks, dtype=np.float64)      # (m, k, dsub)
    m, _, dsub = cb.shape

    def codes(x, _cids, cb_, half):
        return np.stack([
            np.argmax(x[:, j * dsub:(j + 1) * dsub] @ cb_[j].T - half[j],
                      axis=1)
            for j in range(m)], axis=1).tolist()

    # literal-path contract: invalid rows get m nulls, not a null array
    return _nearest_map(df, vec_col,
                        StructField(code_col, ArrayType(IntegerType())),
                        cb, None, codes, invalid=[None] * m)


def pq_fit(df: DataFrame, m: int = 8, k: int = 16, n_iter: int = 5,
           vec_col: str = "embedding", id_col: str = "vec_id",
           dim: int | None = None,
           seeding: str = "spread",
           encode_method: str = "auto") -> list[list[list[float]]]:
    """Train PQ codebooks by per-subspace Lloyd iteration, all m
    subspaces in ONE pass per iteration: the assignment inlines every
    subspace's argmin into one projection, `inline` stacks
    (subspace, cell, slice) rows, and the update is a
    posexplode -> groupBy(sub, cid, pos) hash aggregation riding
    map-side partial combine — each task emits <= m*k*dsub = k*dim
    partial sums, so shuffle volume is independent of corpus size
    (the same treeAggregate shape as :func:`kmeans_fit`).  Seeds are
    slices of :func:`kmeans_spread_seeds` vectors by default
    (deterministic; ``seeding="smallest_id"`` restores the r5 k
    smallest-id slices); empty cells keep their previous
    sub-centroid.

    At ``k > 256`` (or ``encode_method="numpy"``) the per-iteration
    assignment routes through :func:`pq_encode`'s broadcast-matrix
    kernel instead of the literal argmin inline — the same large-k
    dispatch as the encoder itself, keeping training viable at
    FAISS-typical k_codes=256+ (r8; mirrors the r7 routing of
    ``kmeans_fit`` through the flat-plan assignment)."""
    dim = _require_dim(dim, vec_col)
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    dsub = dim // m
    from .util import fan_out

    base = fan_out(df.select(id_col, vec_col))
    seed_vecs = _seed_vectors(df, k, seeding, vec_col, id_col)
    books = [
        [vec[j * dsub:(j + 1) * dsub] for vec in seed_vecs]
        for j in range(m)
    ]
    if encode_method == "auto":
        encode_method = "literal" if k <= _LITERAL_MAX_K else "numpy"
    for _ in range(n_iter):
        if encode_method == "numpy":
            ex = _pq_encode_numpy(base, books, vec_col, "__code").select(
                F.col(vec_col).alias("__v"),
                F.posexplode("__code").alias("sub", "cid"),
            ).select(
                "sub", "cid",
                F.slice(F.col("__v"), F.col("sub") * dsub + 1,
                        F.lit(dsub)).alias("s"),
            )
        else:
            # one SQL parse for the whole per-subspace inline array
            # (r14): the per-j Column build paid ~600 py4j round-trips
            # per subspace PER FIT ITERATION
            ex = base.select(render(_pq_sub_cells, vec_col, books))
        rows = (
            ex.filter(F.col("cid").isNotNull())
            .select("sub", "cid", F.posexplode(F.col("s")).alias("pos", "v"))
            .groupBy("sub", "cid", "pos")
            .agg(F.sum(F.col("v").cast("double")).alias("t"),
                 F.count(F.lit(1)).alias("n"))
            .groupBy("sub", "cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "t", "n"))),
                    lambda r: r["t"] / r["n"],
                ).alias("centroid")
            )
            .collect()
        )
        new = {(int(r["sub"]), int(r["cid"])):
               [float(v) for v in r["centroid"]] for r in rows}
        books = [
            [new.get((j, c), books[j][c]) for c in range(k)]
            for j in range(m)
        ]
    return books


def _tmap(spark, counts, cap: int):
    """(__cell, __t) literal frame of the cells in ``counts`` ((cell,
    member count) rows, collected to the driver) holding more than
    ``cap`` members, with block factor t = ceil(count / cap); None
    when no cell is fat."""
    fat = [(cell, -(-n // cap)) for cell, n in counts if n > cap]
    return (spark.createDataFrame(fat, "__cell long, __t int")
            if fat else None)


def _fat_cell_tmap(celled: DataFrame, cap: int):
    """:func:`_tmap` of ``celled``.  One map-side-combined count
    aggregate, COLLECTED once (at most k rows) and rebuilt as a
    literal frame — leaving it lazy would re-run the full celled
    aggregation for every downstream evaluation (the probe check plus
    each broadcast exchange), which at corpus scale with
    persist_celled=False is one extra corpus pass apiece."""
    rows = (celled.groupBy("__cell").count()
            .filter(F.col("count") > cap).collect())
    return _tmap(celled.sparkSession,
                 [(r["__cell"], r["count"]) for r in rows], cap)


def _salted(rows: DataFrame, tmap: DataFrame, id_col: str, side: int,
            symmetric: bool = True) -> DataFrame:
    """``rows`` exploded into the salted blocks (``__bi``, ``__bj``) of
    their cell: a member of a cell with block factor t (from ``tmap``;
    1 elsewhere) gets salt s = xxhash64(id) mod t; on side 0 (A) it
    joins blocks (s, j), on side 1 (B) blocks (i, s) — for j >= s and
    i <= s when ``symmetric`` (the triangle), for every j or i
    otherwise (the full grid)."""
    t = rows.join(F.broadcast(tmap), on="__cell", how="left") \
        .withColumn("__t", F.coalesce(F.col("__t"), F.lit(1)))
    salt = F.pmod(F.xxhash64(F.col(id_col)), F.col("__t")).cast("int")
    if side == 0:
        own, other = "__bi", "__bj"
        span = F.sequence(F.col("__bi") if symmetric else F.lit(0),
                          F.col("__t") - 1)
    else:
        own, other = "__bj", "__bi"
        span = F.sequence(F.lit(0), F.col("__bj") if symmetric
                          else F.col("__t") - 1)
    return t.withColumn(own, salt) \
        .withColumn(other, F.explode(span)).drop("__t")


def _blocked_pair_join(a: DataFrame, b: DataFrame, tmap: DataFrame,
                       symmetric: bool) -> DataFrame:
    """Self/semi-self equi-join on ``__cell`` with PER-KEY parallelism:
    members of a fat cell are salted into t buckets (:func:`_salted`)
    and the cell's pair space is decomposed into a t x t block grid —
    each block is its own join key, so one fat cell's quadratic pair
    work spreads over ~t²/2 TASKS instead of serializing into one (a
    single join key is the one skew shape AQE's skew-join split cannot
    touch).  EXACT: every candidate pair lands in exactly one block.

    ``symmetric=True`` (a == b up to column naming, caller keeps pairs
    with id_a < id_b): triangle decomposition — an unordered pair with
    salts (p, q), p != q, meets exactly once in block (min, max) with
    the lower-salt row on the A side, and diagonal blocks fall back to
    the caller's id order.  The caller must therefore accept
    off-diagonal pairs in EITHER id order (filter ``(__bi < __bj) |
    (id_a < id_b)`` and canonicalize with least/greatest).
    ``symmetric=False`` (A is a subset lane, e.g. multi-probe home
    members): full-grid decomposition, every (A, B) combination meets
    exactly once.

    Data inflation is confined to fat cells: ~t/2 x (triangle) or
    t x (grid) on each side — O(n_cell²/cap) extra shuffled rows, the
    price of turning one 10⁹-pair task into 10³ bounded ones."""
    return _salted(a, tmap, "id_a", 0, symmetric).join(
        _salted(b, tmap, "id_b", 1, symmetric),
        on=["__cell", "__bi", "__bj"], how="inner")


# rows per slab on EACH axis of the thresholded-cosine matmul: a slab
# is at most 2048 x 2048 float64 (32 MB) whatever the group size
_SLAB = 2048


def _cosine_slabs(va, vb, threshold: float, row_block: int = _SLAB,
                  col_block: int = _SLAB):
    """The numpy lane's one thresholded-cosine definition.  Yields
    ``(s, c, hit, cos)`` per slab over rows ``s..`` of ``va`` and
    columns ``c..`` of ``vb`` (sequences of equal-length vectors):
    ``cos`` is ``round(cosine, 6)`` and ``hit`` its ``cos >=
    threshold`` mask.  ``vb=None`` covers only the strict upper
    triangle of ``va x va`` (row < column), for pairs within one group.

    One BLAS matmul per slab instead of one interpreted Catalyst
    ArrayAggregate per PAIR, blocked on both axes so peak memory is
    ``row_block x col_block`` floats for any group size.  A NaN
    cosine (NaN component) compares False and a zero vector's cosine
    is NaN, so neither ever hits: the same unmatchable contract the
    sql lane spells as ``~isnan``.  Rounding caveat: np.round is
    half-even while Spark's round is half-up, so a cosine landing
    EXACTLY on a 5e-7 boundary can differ from the sql lane (the
    parity tests pin agreement on real data)."""
    import numpy as np

    if len(va) == 0 or (vb is not None and len(vb) == 0):
        return
    xa = np.vstack([np.asarray(v, dtype=np.float64) for v in va])
    xb = xa if vb is None else np.vstack(
        [np.asarray(v, dtype=np.float64) for v in vb])
    na = np.sqrt((xa * xa).sum(axis=1))
    nb = np.sqrt((xb * xb).sum(axis=1))
    for s in range(0, len(xa), row_block):
        e = min(s + row_block, len(xa))
        for c in range(0, len(xb), col_block):
            ce = min(c + col_block, len(xb))
            if vb is None and ce - 1 <= s:
                continue                    # on or below the diagonal
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.round((xa[s:e] @ xb[c:ce].T)
                               / np.outer(na[s:e], nb[c:ce]), 6)
            hit = cos >= threshold
            if vb is None and c < e:        # slab crosses the diagonal
                hit = np.triu(hit, s - c + 1)
            yield s, c, hit, cos


def _pairs_numpy_kernel(threshold: float, id_col: str, vec_col: str,
                        block: int = _SLAB):
    """applyInPandas kernel emitting canonical (id_a, id_b, cos_sim)
    pairs with rounded cosine >= threshold inside one cell / one
    salted block, from :func:`_cosine_slabs` — measured ~1000x over
    the sql lane on fat cells (the sf10 33k-member cell: 5.6e8 pairs
    = ~37 min interpreted, ~5 s here).

    Group frames carry a ``__side`` flag when they come from the
    salted block grid: diagonal blocks (bi == bj) hold each row once
    and reduce to the triangle case; off-diagonal blocks compute the
    A x B cross product and canonicalize ids (cosine is symmetric)."""
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})

    def fn(pdf):
        if "__side" in pdf.columns and len(pdf) \
                and pdf["__bi"].iat[0] != pdf["__bj"].iat[0]:
            a = pdf[pdf["__side"] == 0]
            b = pdf[pdf["__side"] == 1]
            vb, ib = b[vec_col], b[id_col].to_numpy()
        else:
            # sort by id so the positional upper triangle IS the
            # id_a < id_b contract
            a = pdf.sort_values(id_col)
            vb, ib = None, a[id_col].to_numpy()
        ia = a[id_col].to_numpy()
        out = []
        for s, c, hit, cos in _cosine_slabs(a[vec_col], vb, threshold,
                                            block, block):
            r, k = np.nonzero(hit)
            if len(r):
                out.append(pd.DataFrame({
                    "id_a": np.minimum(ia[s + r], ib[c + k]),
                    "id_b": np.maximum(ia[s + r], ib[c + k]),
                    "cos_sim": cos[r, k]}))
        return pd.concat(out) if out else empty

    return fn


def _cell_components_kernel(threshold: float, id_col: str, vec_col: str,
                            block: int = _SLAB, max_rounds: int = 64):
    """applyInPandas kernel computing the connected components of ONE
    cell's near-duplicate graph (edges = the hits of
    :func:`_cosine_slabs`) entirely inside the Arrow batch, emitting
    only the LOSERS — (node, comp) rows where node is not its
    component's minimum id.

    Scale rationale (r10, found by the sf100 three-decade sweep): on a
    dup-saturated corpus every k-member near-dup clique contributes
    k(k-1)/2 edges, so the pairs -> global connected_components path
    shuffles O(true pairs) rows — ~1e9 edges / tens of GB of spill at
    sf100 — even though the ANSWER (one loser row per duplicate) is
    corpus-sized.  With ``n_probe == 1`` every edge is within a single
    quantizer cell, so components are provably cell-local and the edge
    set never needs to exist outside this kernel.  Connectivity is
    solved by min-label propagation — per slab, rows and their hit
    columns exchange labels (all vectorized), then pointer jumping
    (``lab = lab[lab]``) doubles label paths for log-depth convergence
    on chains.  Labels only decrease and are bounded, so the fixpoint
    (no change across a full sweep) is exact: at fixpoint every edge's
    endpoints carry equal labels, and the label is the component min."""
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame({"node": [], "comp": []})

    def fn(pdf):
        n = len(pdf)
        if n < 2:
            return empty
        rows = pdf.sort_values(id_col)   # index order == id order
        ids = rows[id_col].to_numpy()
        lab = np.arange(n, dtype=np.int64)
        sentinel = np.int64(n)           # > every real label
        # the hit slabs are threshold-fixed, only the labels change
        # across sweeps: cache the slabs holding a hit (at most n²
        # bools — 4 MB at the 2048 cap) so every sweep after the first
        # costs label propagation only, not a full BLAS pass.  Groups
        # beyond the cache budget (cells lane with the cap disabled)
        # recompute per sweep.
        cache = [] if n * n <= (64 << 20) else None
        converged = False
        for rnd in range(max_rounds):
            prev = lab.copy()
            slabs = cache if cache is not None and rnd else (
                (s, c, hit) for s, c, hit, _ in _cosine_slabs(
                    rows[vec_col], None, threshold, block, block)
                if hit.any())
            for s, c, hit in slabs:
                if cache is not None and not rnd:
                    cache.append((s, c, hit))
                e, ce = s + hit.shape[0], c + hit.shape[1]
                rmin = np.minimum(lab[s:e], np.where(
                    hit, lab[None, c:ce], sentinel).min(axis=1))
                lab[s:e] = rmin
                np.minimum(lab[c:ce], np.where(
                    hit, rmin[:, None], sentinel).min(axis=0),
                    out=lab[c:ce])
            while True:                  # pointer jumping
                nl = lab[lab]
                if np.array_equal(nl, lab):
                    break
                lab = nl
            if np.array_equal(lab, prev):
                converged = True
                break
        if not converged:
            raise RuntimeError(
                f"cell component labels did not converge in "
                f"{max_rounds} sweeps over {n} members — raise "
                f"max_rounds (propagation + pointer jumping needs "
                f"O(log n) sweeps, so this indicates a bug)")
        keep = lab != np.arange(n)
        if not keep.any():
            return empty
        return pd.DataFrame({"node": ids[keep], "comp": ids[lab[keep]]})

    return fn


def _numpy_block_frames(rows: DataFrame, tmap: DataFrame,
                        id_col: str) -> DataFrame:
    """The triangle blocks of :func:`_blocked_pair_join` as ROWS for
    the Arrow kernels: every member row in each of its block
    memberships with a ``__side`` flag (0 = A occurrences, 1 = B), so
    one ``groupBy(cell, bi, bj)`` group carries exactly the rows of
    one block."""
    a = _salted(rows, tmap, id_col, 0).withColumn("__side", F.lit(0))
    b = _salted(rows, tmap, id_col, 1).withColumn("__side", F.lit(1))
    # diagonal blocks hold identical row sets on both sides; keep only
    # the A occurrence there (the kernel triangles it)
    return a.unionByName(b.filter(F.col("__bi") != F.col("__bj")))


# "caller did not hand anything down" marker for semdedup()'s private
# hand-off parameters (None is a meaningful value there: "probe ran,
# found no fat cell")
_UNSET = object()


def semdedup_pairs(df: DataFrame, centroids,
                   threshold: float = 0.95,
                   vec_col: str = "embedding",
                   id_col: str = "vec_id",
                   persist_celled: bool | None = None,
                   assign_method: str = "auto",
                   n_probe: int = 1,
                   probe_margin: float | str | None = "auto",
                   cell_task_cap: int | None = 2048,
                   pair_backend: str = "auto",
                   cells: Column | None = None,
                   vec_dim: int | None = None,
                   _celled: DataFrame | None = None,
                   _tmap=_UNSET) -> DataFrame:
    """SemDeDup candidate pairs (Abbas et al. 2023, "SemDeDup: Data-
    efficient learning at web-scale through semantic deduplication"):
    semantic near-duplicates are pairs in the SAME quantizer cell with
    cosine >= threshold — the k-means cell plays the role the LSH
    bucket plays in :func:`embedding_neardup_pairs`, but cells follow
    the data's cluster structure (train with :func:`kmeans_fit`,
    ideally ``spherical=True`` for cosine geometry), so semantically
    close pairs co-locate even when no random hyperplane family would
    put them together.  Returns (id_a, id_b, cos_sim), id_a < id_b.

    Scale shape: one map-only cell assignment, a self-equi-join that
    shuffles on the cell id (k cells; raise k so a cell's pair count
    fits a task), exact cosine only on within-cell candidates — never
    the O(n²) cross join.  Norms are precomputed once per row.

    ``centroids`` is a plain list (small k: plan-literal codegen
    argmin) or a (cid, centroid) DataFrame / large list, dispatched by
    :func:`assign_cells` (``assign_method`` passes through) — the
    broadcast-matrix numpy path keeps plan size flat in k, so the
    SemDeDup scaling rule "raise k until a cell's pair count fits a
    task" holds all the way to the paper's ~110k clusters.

    ``persist_celled`` caches the celled projection so the k-centroid
    assignment runs once instead of once per self-join branch; default
    (None) persists only when the input's size estimate is small (the
    same adaptive-materialization rule as ``minhash_dedup_pairs`` — at
    corpus scale the projection is the whole vector table and must NOT
    be pinned).  The cache backs the lazily returned pairs; see
    :func:`pydiverse_transform_spark.scope` for its lifetime.

    ``probe_margin`` (used only when ``n_probe > 1``) prunes
    multi-probe's candidate cost to the vectors actually near a cell
    boundary.  ``"auto"`` derives ``2*sqrt(2*(1-threshold))`` — for
    UNIT-NORM embeddings (the SemDeDup paper normalizes; train with
    ``kmeans_fit(spherical=True)``) that is exactly ``2 * max
    ||x - y||`` over pairs with cosine >= threshold, so auto-pruned
    probing keeps every pair plain n_probe probing would have found
    (see :func:`assign_cells_multi` for the triangle-inequality
    argument).  Pass an explicit float for non-normalized corpora
    (2x the largest pair distance you must not miss), or ``None`` to
    probe all ``n_probe`` cells unconditionally.

    ``cell_task_cap`` (r9) bounds the pair work a single task can be
    handed: when any cell's member count exceeds the cap (measured by
    one cheap count aggregate), that cell's self-join is decomposed
    into a salted block grid (:func:`_blocked_pair_join`) — EXACT
    (identical pairs, no recall change), it only re-parallelizes the
    quadratic within-cell work that otherwise serializes into one
    join-key task (a shape AQE's skew split cannot touch; found at
    sf10 where replica-clustered embeddings put 33k vectors in one
    md5-hyperplane cell = 5.6x10⁸ cosine evaluations on one core).
    The default (2048) is an interpreted-pair-work budget: 2048² ≈
    4M ArrayAggregate cosines ≈ 17 s on one core is the most a cell is
    allowed to cost before the decomposition + BLAS backend take over
    (4096 left a 3.6k-member cell at sf1 paying ~32 s of interpreted
    quadratic work just under the trigger).  Raising k is still the
    first-order fix when the QUANTIZER can spread the data (train
    with kmeans_fit); the cap is the guard for when it cannot —
    clustered corpora under untrained centroids.  ``None`` disables
    the probe and the salting (r7/r8 plan shape, byte-identical).

    ``pair_backend`` (r9) picks how candidate cosines are evaluated on
    the single-probe lane:

    - ``"sql"`` — codegen join + Catalyst ``aggregate`` dot
      product.  Zero Python in the plan; the oracle-exact path (Spark
      round = half-up).  Right while cells are small: the per-pair
      interpreted ArrayAggregate (~4 µs) never dominates.
    - ``"numpy"`` — Arrow-batched ``applyInPandas`` per cell (or per
      salted block when a cell exceeds ``cell_task_cap``): one BLAS
      matmul per 2048-row block instead of one interpreted
      ArrayAggregate per PAIR — ~1000x on pair-dense cells, the
      backend for clustered corpora where most pairs share few cells.
      Same pairs; cosines can differ from ``"sql"`` only for values
      landing EXACTLY on a 5e-7 rounding boundary (np.round is
      half-even).  Not yet implemented for ``n_probe > 1``.
    - ``"auto"`` (default) — ``numpy`` exactly when a fat cell exists
      (the same ``cell_task_cap`` probe that triggers the block
      decomposition), else ``sql``.  Rationale: the block grid fixes
      the one-task serialization, but AQE's BYTES-based partition
      coalescing then merges many small-byte blocks back into few
      tasks — blind to their quadratic CPU — so the interpreted
      backend stays slow on fat cells no matter how the join is cut;
      only dropping the per-pair cost ~1000x actually closes it
      (measured at sf10).  Below the cap the two backends cost about
      the same and ``sql`` keeps plans Python-free and oracle-exact.
    """
    from .util import fan_out

    if pair_backend not in ("auto", "sql", "numpy"):
        raise ValueError(f"pair_backend must be 'auto', 'sql' or "
                         f"'numpy', got {pair_backend!r}")
    if cells is not None and n_probe > 1:
        raise ValueError("a custom `cells` expression supports the "
                         "single-probe lane only (there is no centroid "
                         "family to multi-probe); use n_probe=1")
    if pair_backend == "numpy" and n_probe > 1:
        raise ValueError("pair_backend='numpy' supports the "
                         "single-probe lane only; use n_probe=1 or "
                         "pair_backend='sql'")
    if cell_task_cap is not None and cell_task_cap < 1:
        raise ValueError(
            f"cell_task_cap must be >= 1 (or None to disable the "
            f"fat-cell probe entirely), got {cell_task_cap}")
    if persist_celled is None:
        persist_celled = _small_corpus(df)
    src = fan_out(df).select(F.col(id_col), F.col(vec_col))
    if n_probe > 1:
        # DIRECTED multi-probe blocking (r8; replaces r7's symmetric
        # explode, which priced at ~4x the n_probe=1 pair volume): each
        # vector is a HOME member of its nearest cell and a VISITOR
        # only in probe cells with a LOWER cid; candidate pairs form
        # between a home member and (home + visitor) members.
        # Coverage: for a boundary pair with homes A < B, y visits A
        # (d(y,A) <= d(x,A)+d <= d(x,B)+d <= d(y,B)+2d, inside the
        # margin band), so the pair forms in A between home-x and
        # visitor-y; home-home pairs are the n_probe=1 baseline.
        # Cost: half the visitors of symmetric probing and no
        # visitor-visitor pairs -> worst-case ~2x the baseline pair
        # volume (SEMDEDUP_SWEEP_r08.json) instead of 4x.
        if probe_margin == "auto":
            probe_margin = 2.0 * (2.0 * (1.0 - threshold)) ** 0.5
        multi = assign_cells_multi(src, centroids, n_probe=n_probe,
                                   vec_col=vec_col, out_col="__cells",
                                   probe_margin=probe_margin)
        celled = (
            multi.select(
                F.col(id_col), F.col(vec_col),
                F.col("__cells")[0].alias("__home"),
                F.posexplode("__cells").alias("__pos", "__cell"),
            )
            .filter((F.col("__pos") == 0)
                    | (F.col("__cell") < F.col("__home")))
            .withColumn("__is_home", F.col("__pos") == 0)
            .withColumn("__norm", norm(F.col(vec_col)))
            .drop("__pos", "__home")
        )
        if persist_celled:
            celled = hold(celled, "semdedup_pairs")
        a = celled.filter(F.col("__is_home")).select(
            F.col("__cell"), F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("va"), F.col("__norm").alias("na"),
        )
        b = celled.select(
            F.col("__cell"), F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("vb"), F.col("__norm").alias("nb"),
        )
        # visitor rows put the smaller-id endpoint on either side, so
        # order the pair key explicitly and dedupe (a home-home pair
        # arrives once from each orientation; cosine is symmetric, so
        # the vector columns need no swap)
        tmap = (_fat_cell_tmap(celled, cell_task_cap)
                if cell_task_cap is not None else None)
        joined = (a.join(b, on="__cell", how="inner") if tmap is None
                  else _blocked_pair_join(a, b, tmap, symmetric=False))
        cands = (
            joined
            .filter(F.col("id_a") != F.col("id_b"))
            .select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
                "va", "vb", "na", "nb",
            )
            .dropDuplicates(["id_a", "id_b"])
        )
    else:
        # single-probe path kept EXACTLY r7's shape — no flag column,
        # no extra filter (measured ~20% on the q_semdedup bench row).
        # ``_celled``/``_tmap`` (private) let semdedup() hand down the
        # assignment + fat-cell probe it already ran for component-
        # backend routing, so the pairs route costs no extra pass.
        base = _celled if _celled is not None else _make_celled(
            src, centroids, cells, vec_col, assign_method,
            vec_dim=vec_dim)
        # semdedup()'s shared cache already carries __norm (r15) —
        # recomputing it here would shadow the cached column with a
        # fresh expression and waste one norm pass per join branch
        celled = (base if "__norm" in base.columns
                  else base.withColumn("__norm", norm(F.col(vec_col))))
        if persist_celled:
            celled = hold(celled, "semdedup_pairs")
        if _tmap is not _UNSET:
            tmap = _tmap
        else:
            tmap = (_fat_cell_tmap(celled, cell_task_cap)
                    if cell_task_cap is not None else None)
        backend = pair_backend
        if backend == "auto":
            backend = "numpy" if tmap is not None else "sql"
        if backend == "numpy":
            # null cells (null/dim-mismatched vectors) join nothing on
            # the sql path (null != null); drop them before grouping
            rows = celled.filter(F.col("__cell").isNotNull()) \
                .select("__cell", F.col(id_col), F.col(vec_col))
            idt = df.schema[id_col].dataType.simpleString()
            out_schema = f"id_a {idt}, id_b {idt}, cos_sim double"
            kernel = _pairs_numpy_kernel(threshold, id_col, vec_col)
            if tmap is None:
                return rows.groupBy("__cell") \
                    .applyInPandas(kernel, out_schema)
            return (_numpy_block_frames(rows, tmap, id_col)
                    .groupBy("__cell", "__bi", "__bj")
                    .applyInPandas(kernel, out_schema))
        a = celled.select(
            F.col("__cell"), F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("va"), F.col("__norm").alias("na"),
        )
        b = celled.select(
            F.col("__cell"), F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("vb"), F.col("__norm").alias("nb"),
        )
        if tmap is None:
            cands = (
                a.join(b, on="__cell", how="inner")
                .filter(F.col("id_a") < F.col("id_b"))
            )
        else:
            # triangle blocks: off-diagonal blocks hold each unordered
            # pair once in salt order (either id order — canonicalize),
            # diagonal blocks fall back to the id order
            cands = (
                _blocked_pair_join(a, b, tmap, symmetric=True)
                .filter((F.col("__bi") < F.col("__bj"))
                        | (F.col("id_a") < F.col("id_b")))
                .select(
                    F.least("id_a", "id_b").alias("id_a"),
                    F.greatest("id_a", "id_b").alias("id_b"),
                    "va", "vb", "na", "nb",
                )
            )
    return _cosine_verified(cands, ["id_a", "id_b"], threshold)


def _make_celled(src: DataFrame, centroids, cells: Column | None,
                 vec_col: str, assign_method: str,
                 vec_dim: int | None = None) -> DataFrame:
    """The celled projection behind SemDeDup: either the centroid-family
    argmin (:func:`assign_cells`) or a caller-supplied quantizer
    expression ``cells`` (e.g. :func:`signlsh_bucket` — which, unlike an
    argmin over untrained random centroids, spreads CLUSTERED data by
    construction: every hyperplane splits the space, so k = 2^p cells
    fill evenly; measured on the sf100 replica corpus, argmin over the
    md5 family left 121/20000 cells occupied with 840k vectors in one
    cell while 14 sign-LSH planes gave 5105 cells, max 5k).  A custom
    expression is nulled out for null vectors so the unmatchable-admit
    contract matches assign_cells (null cell -> never paired, always
    survives)."""
    if cells is not None:
        if vec_dim is None:
            # the NULL-cell guard for dim-mismatched vectors is not
            # optional: without it a mismatched/empty vector null-pads
            # through the custom expression into a REAL bucket and the
            # Arrow kernels crash on the ragged batch (np.vstack).
            # Derive the dim from the first non-null vector (one
            # limit-1 probe job) and tell the caller how to avoid it.
            import warnings

            row = (src.filter(F.col(vec_col).isNotNull())
                   .select(F.size(F.col(vec_col)).alias("d")).first())
            if row is not None:
                vec_dim = int(row["d"])
                warnings.warn(
                    f"semdedup(cells=...) without vec_dim=: derived "
                    f"the quantizer dim ({vec_dim}) from the first "
                    f"non-null vector via an eager limit-1 probe job; "
                    f"pass vec_dim= explicitly to skip the probe (and "
                    f"note foreachBatch callers pay it per batch)",
                    stacklevel=3,
                )
        unmatchable = F.col(vec_col).isNull()
        if vec_dim is not None:
            # assign_cells contract: a vector whose length differs from
            # the quantizer dim (incl. empty) gets a NULL cell — it can
            # never pair, and the numpy kernels require rectangular
            # batches (np.vstack raises on ragged input)
            unmatchable = unmatchable | (F.size(F.col(vec_col))
                                         != F.lit(int(vec_dim)))
        out = src.withColumn(
            "__cell", F.when(unmatchable, F.lit(None)).otherwise(cells))
        ctype = dict(out.dtypes)["__cell"]
        if ctype not in ("tinyint", "smallint", "int", "bigint"):
            raise ValueError(
                f"the cells expression must produce an integral cell id "
                f"(got {ctype}); hash non-integral buckets, e.g. "
                f"F.xxhash64(expr)")
        return out
    return assign_cells(src, centroids, vec_col=vec_col,
                        out_col="__cell", method=assign_method)


# component_backend="auto" routes to the cell-local kernel when the
# projected within-cell pair volume exceeds this.  4M pairs ≈ where the
# pairs -> global-CC path starts to lose: the edge relation it shuffles
# (and star-contracts over several checkpointed rounds) grows with true
# pair volume, while the in-kernel route's cost stays O(corpus) + BLAS.
# Measured on the sf10 replica corpus (1e7 within-cell pairs): pairs
# route 177 s, kernel route ~40 s; at sf100 (1e9 pairs) the pairs route
# spilled ~50 GB and died while the kernel route completes.
_COMPONENT_PAIR_CAP = 4_000_000

# the auto probe's per-cell counts are collected to the driver (and pv/
# fat folded in Python, one exchange fewer) only when the quantizer is
# an argmin over a plan-literal centroid LIST of at most this many
# cells — a provable bound on the collected row count.  65536 cells of
# (long, long) is ~1 MB on the driver.  (r15)
_PROBE_CELL_COLLECT_CAP = 65_536


def semdedup(df: DataFrame, centroids,
             threshold: float = 0.95,
             vec_col: str = "embedding",
             id_col: str = "vec_id",
             max_iter: int = 30,
             assign_method: str = "auto",
             n_probe: int = 1,
             probe_margin: float | str | None = "auto",
             cell_task_cap: int | None = 2048,
             pair_backend: str = "auto",
             component_backend: str = "auto",
             cells: Column | None = None,
             vec_dim: int | None = None) -> DataFrame:
    """End-to-end SemDeDup: within-cell cosine pairs -> connected
    components -> keep only the canonical (minimum-id) row of every
    semantic-duplicate cluster.  The non-canonical id set is tiny
    relative to the corpus, so Catalyst broadcasts the anti-join and
    the full table is read exactly once (same shape as
    ``dedup.neardup_dedup``).  ``cell_task_cap`` and ``pair_backend``
    pass through to :func:`semdedup_pairs` (fat-cell block
    decomposition / BLAS pair kernel).

    ``component_backend`` (r10) picks how components are derived:

    - ``"pairs"`` — materialize the candidate-pair relation and run
      ``dedup.connected_components`` on it: driver union-find when the
      edges fit ``driver_max_pairs``, else the distributed hash-min
      loop with pointer jumping.  Edge shuffle is O(true pairs):
      on a DUP-SATURATED corpus (every doc in a k-clique) that is
      k(k-1)/2 rows per clique — the sf100 replica sweep measured ~1e9
      edges / ~50 GB of sort spill for a 2M-vector corpus whose answer
      is 2M rows.  Right when pair volume is moderate (it keeps the
      plan Python-free and is the oracle-exact shape).
    - ``"cells"`` — requires ``n_probe == 1``, where every edge is
      within one quantizer cell, so components are provably cell-local:
      one ``applyInPandas`` per cell computes cosines (blocked BLAS)
      and solves connectivity in-kernel (min-label propagation +
      pointer jumping), emitting one LOSER row per eliminated vector.
      The edge set never exists outside the kernel — total shuffle is
      the one cell repartition, O(corpus) at any duplication density.
      Cells over ``cell_task_cap`` go through the salted block grid
      (one join key cannot be split — the r9 lesson): each block's
      kernel CONTRACTS its edges to a spanning-forest star, and one
      global CC over the forest (<= members x t rows per fat cell,
      still O(corpus)) merges across blocks — exact, because CC over a
      union of subgraph spanning forests equals CC over all edges and
      every true pair lands in at least one block.
    - ``"auto"`` (default) — one count-per-cell aggregate (the same
      probe the fat-cell cap already runs) projects the pair volume;
      routes to ``"cells"`` above ``_COMPONENT_PAIR_CAP``, else
      ``"pairs"`` with the probe result handed down (no extra pass).
      With ``cell_task_cap=None`` (probe disabled) auto keeps the
      legacy pairs route unconditionally.

    ``cells`` (r10) replaces the centroid-argmin quantizer with a
    caller-supplied deterministic cell expression over ``vec_col``
    (e.g. ``signlsh_bucket(F.col("embedding"), planes)`` with
    ``p = log2(n/100)`` planes — the sign-LSH family spreads clustered
    data where an argmin over untrained random centroids collapses;
    see :func:`_make_celled`).  Pass ``centroids=None`` with it;
    single-probe only.  The expression must yield an INTEGRAL cell id
    (hash non-integral buckets), and ``vec_dim=`` should be given so
    dimension-mismatched vectors get the NULL cell assign_cells
    guarantees (they can never pair; the Arrow kernels need
    rectangular batches).  An explicit ``pair_backend="sql"`` pins the
    Python-free path — auto component routing will not override it."""
    from .dedup import connected_components
    from .util import SMALL_CORPUS_BYTES, fan_out, plan_size_bytes

    if component_backend not in ("auto", "pairs", "cells"):
        raise ValueError(
            f"component_backend must be 'auto', 'pairs' or 'cells', "
            f"got {component_backend!r}")
    if component_backend == "cells" and n_probe > 1:
        raise ValueError(
            "component_backend='cells' requires n_probe=1: multi-probe "
            "visitor edges cross cells, so components are not "
            "cell-local; use component_backend='pairs'")
    if component_backend == "cells" and pair_backend == "sql":
        raise ValueError(
            "component_backend='cells' evaluates cosines inside the "
            "Arrow kernel (half-even rounding), which contradicts the "
            "pair_backend='sql' pin (Python-free, half-up / "
            "oracle-exact); drop one of the two")

    celled = tmap = None
    probe_counts = None
    shared_cache = False
    with owned() as own:
        if (n_probe == 1 and component_backend == "cells") or (
                n_probe == 1 and component_backend == "auto"
                and cell_task_cap is not None):
            src = fan_out(df).select(F.col(id_col), F.col(vec_col))
            celled = _make_celled(src, centroids, cells, vec_col,
                                  assign_method, vec_dim=vec_dim)
            if component_backend == "auto":
                # ONE assignment pass serves the routing probe AND the
                # winning route (r15, guide §2.4 "one shared pass"): for a
                # small corpus, persist the celled projection — with the
                # norm the pair lane needs — BEFORE the probe materializes
                # it, so the quantizer assignment runs once instead of once
                # for the probe plus once per route consumer.  The handle
                # is released as soon as the (eager) pairs route has
                # consumed it, or immediately when routing picks the lazy
                # in-kernel cells lane.  Same small-corpus gate as
                # semdedup_pairs(persist_celled=None): at corpus scale the
                # projection is the whole vector table and must not be
                # pinned.
                if _small_corpus(df):
                    from pyspark.storagelevel import StorageLevel

                    celled = own.persist(
                        celled.withColumn("__norm", norm(F.col(vec_col))),
                        StorageLevel.MEMORY_AND_DISK)
                    shared_cache = True
                # ONE job serves both routing decisions, and the driver
                # receives ONE row: total pair volume (component backend)
                # plus the fat-cell list (collect_list drops the nulls the
                # CASE leaves for thin cells), so a high-cardinality
                # quantizer cannot flood the driver.  Null cells (null /
                # dim-mismatched vectors) are excluded: they are filtered
                # before grouping and can never pair, so counting them
                # would let unmatchable rows drive the routing.
                cap = cell_task_cap
                base_cnt = (celled.filter(F.col("__cell").isNotNull())
                            .groupBy("__cell").count())
                if cells is None and isinstance(centroids,
                                                (list, tuple)) \
                        and len(centroids) <= _PROBE_CELL_COLLECT_CAP:
                    # k is DRIVER-KNOWN and bounded (argmin over a
                    # plan-literal centroid list => distinct cells <=
                    # k): collect the per-cell counts (<= k rows) and
                    # fold pv/fat in Python — drops the one-row global
                    # re-aggregation's exchange and its AQE job from
                    # the probe (r15, guide §1.2 driver/plan cost; pv
                    # is exact integer arithmetic here, identical
                    # routing).  Custom quantizer expressions and
                    # DataFrame centroids keep the one-row fold: their
                    # cell cardinality is not provably driver-safe.
                    cnts = [(r["__cell"], r["count"])
                            for r in base_cnt.collect()]
                    probe_counts = sum(c * (c - 1) // 2
                                       for _, c in cnts)
                else:
                    row = (base_cnt
                           .agg(F.sum(F.expr("count * (count - 1) / 2"))
                                .alias("pv"),
                                F.collect_list(F.when(
                                    F.col("count") > cap,
                                    F.struct(F.col("__cell"),
                                             F.col("count"))))
                                .alias("fat"))
                           .collect()[0])
                    probe_counts = int(row["pv"] or 0)
                    cnts = [(r["__cell"], r["count"])
                            for r in row["fat"]]
                tmap = _tmap(celled.sparkSession, cnts, cap)
        use_cells = component_backend == "cells"
        if probe_counts is not None:
            # an explicit pair_backend="sql" pins the Python-free,
            # oracle-exact evaluation path — auto-routing must not
            # override it with the (half-even-rounding) kernel lane
            use_cells = (probe_counts > _COMPONENT_PAIR_CAP
                         and pair_backend != "sql")

        if use_cells:
            # the kernel lane's consumers are LAZY (applyInPandas over the
            # returned frame), so no later point can release the shared
            # cache — drop it now; the lane recomputes the assignment once
            # at materialization, exactly the pre-r15 cost
            own.release(celled)
            rows = celled.filter(F.col("__cell").isNotNull()) \
                .select("__cell", F.col(id_col), F.col(vec_col))
            idt = df.schema[id_col].dataType.simpleString()
            kernel = _cell_components_kernel(threshold, id_col, vec_col)
            schema = f"node {idt}, comp {idt}"
            if tmap is None and probe_counts is None \
                    and cell_task_cap is not None:
                # explicit component_backend="cells" skipped the count
                # probe; the fat-cell guard still applies here
                tmap = _fat_cell_tmap(celled, cell_task_cap)
            if tmap is None:
                # no fat cell: one kernel group per cell is complete for
                # that cell, so its star edges ARE final components —
                # losers come straight out, no global CC
                losers = rows.groupBy("__cell").applyInPandas(kernel, schema) \
                    .select(F.col("node").alias(id_col))
            else:
                # fat cells: salted block grid re-parallelizes the
                # quadratic work (one join key cannot be split — r9).  The
                # kernel contracts each block's edges to a spanning-forest
                # star (exact: CC over a union of subgraph spanning forests
                # equals CC over all edges, and every true pair appears in
                # >= 1 block), so the global CC input is <= sum over cells
                # of members x t — O(corpus), never O(pairs)
                star = _numpy_block_frames(rows, tmap, id_col) \
                    .groupBy("__cell", "__bi", "__bj") \
                    .applyInPandas(kernel, schema)
                comp = connected_components(
                    star.select(F.col("comp").alias("id_a"),
                                F.col("node").alias("id_b")),
                    "id_a", "id_b", max_iter=max_iter)
                losers = comp.filter(F.col("node") != F.col("comp")) \
                    .select(F.col("node").alias(id_col))
            return df.join(losers, id_col, "left_anti")

        # CC is eager on every strategy and returns driver rows or
        # checkpointed labels, so it is the last reader of the shared
        # cache (released with the block) and of whatever
        # semdedup_pairs holds (released with the scope)
        with scope():
            pairs = semdedup_pairs(df, centroids, threshold, vec_col,
                                   id_col,
                                   # the shared cache (when small)
                                   # already holds celled+norm — a second
                                   # persist would only duplicate it
                                   persist_celled=(False if shared_cache
                                                   else None),
                                   assign_method=assign_method,
                                   n_probe=n_probe,
                                   probe_margin=probe_margin,
                                   cell_task_cap=cell_task_cap,
                                   pair_backend=pair_backend,
                                   cells=cells,
                                   vec_dim=vec_dim,
                                   _celled=celled,
                                   _tmap=tmap if probe_counts is not None
                                   else _UNSET)
            # the auto probe's candidate-volume projection is a PROVEN
            # upper bound on verified pairs (cosine filtering only
            # removes rows), so CC can skip its own sizing pass when
            # the bound already fits the driver (r14: one collect
            # instead of persist+count+collect)
            comp = connected_components(pairs, "id_a", "id_b",
                                        max_iter=max_iter,
                                        _edge_bound=probe_counts)
    losers = comp.filter(F.col("node") != F.col("comp")) \
        .select(F.col("node").alias(id_col))
    return df.join(losers, id_col, "left_anti")


# driver-materialization cap for the benchmark side of
# semantic_contaminated_ids: 100k rows of (id, vec, cell, norm) is a
# few hundred MB at dim<=1024 — far beyond any real eval set, far
# below driver OOM.  Above it the lineage-severing fallback is an
# eager localCheckpoint (executor-side, no driver materialization).
_BENCH_COLLECT_CAP = 100_000


def semantic_contaminated_ids(corpus: DataFrame, benchmark: DataFrame,
                              centroids,
                              threshold: float = 0.95,
                              vec_col: str = "embedding",
                              id_col: str = "vec_id",
                              assign_method: str = "auto") -> DataFrame:
    """Corpus ids semantically too close to a BENCHMARK set — the
    embedding-space sibling of ``dedup.contaminated_ids`` (which
    matches exact shingles; this catches paraphrases and translations
    that share no n-grams).  Bipartite version of
    :func:`semdedup_pairs`: both sides are assigned to the same
    quantizer cells, candidates are the cross-side within-cell pairs
    (equi-join on the cell — never corpus × benchmark), and exact
    cosine confirms each candidate.  Returns distinct contaminated
    corpus ids.

    Scale shape: the benchmark side is small by definition (an eval
    set), so after the cell filter its celled projection broadcasts;
    the corpus pays one map-only assignment pass and the probe join —
    no corpus shuffle at all when the broadcast fires."""
    # the corpus-side cell column must NOT be a literal-path codegen
    # alias: Catalyst's constraint inference substitutes the alias's
    # lambda expression through the join-key equality and pushes a
    # predicate REFERENCING CORPUS ATTRS onto the benchmark side —
    # runtime INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND whenever the inputs'
    # lineage overlaps or the corpus frame was used in an earlier
    # higher-order-function query (bisected r9, pinned in
    # tests/test_r9_fixes.py; the numpy assignment lane is
    # immune — the Arrow kernel is opaque to constraint inference).
    # "auto" therefore resolves to the numpy kernel here; pass
    # method="literal" explicitly only for fresh-lineage inputs.
    c_method = "numpy" if assign_method == "auto" else assign_method
    c = assign_cells(
        corpus.select(F.col(id_col), F.col(vec_col)),
        centroids, vec_col=vec_col, out_col="__cell", method=c_method,
    ).select(
        F.col(id_col), F.col(vec_col).alias("__vc"), F.col("__cell"),
        norm(F.col(vec_col)).alias("__nc"),
    )
    b = assign_cells(
        benchmark.select(F.col(vec_col)),
        centroids, vec_col=vec_col, out_col="__cell",
        method=assign_method,
    ).select(
        F.col("__cell"), F.col(vec_col).alias("__vb"),
        norm(F.col(vec_col)).alias("__nb"),
    )
    # materialize the benchmark's celled projection as a LITERAL frame
    # (it is small by definition — an eval set — and broadcasts anyway).
    # This severs any lineage shared with the corpus: a corpus and
    # benchmark derived from the same scan otherwise trip a Catalyst
    # runtime-binding bug (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND) where
    # relation deduplication misses attribute references inside the
    # higher-order dot/norm lambdas (found r9, pinned in
    # tests/test_r9_fixes.py).  Guarded: an oversized "benchmark"
    # (or swapped corpus/benchmark arguments) must not OOM the driver,
    # so the collect is LIMIT-probed and falls back to an eager
    # localCheckpoint — executor-side materialization that equally
    # truncates the shared lineage (the plan becomes a scan of
    # checkpointed blocks, no shared subtree left to mis-deduplicate).
    spark = benchmark.sparkSession
    # persist + count instead of `limit(cap+1).collect()`: the LIMIT
    # collect is executeTake, whose partition ramp re-runs the celled
    # benchmark projection (an Arrow kernel pass) once per ramp job;
    # counting the cached projection computes it exactly once and both
    # consumers below read from the cache (r14, guide §1.4/§2.4)
    from pyspark.storagelevel import StorageLevel

    with owned() as own:
        b_cached = own.persist(b, StorageLevel.MEMORY_AND_DISK)
        if b_cached.count() <= _BENCH_COLLECT_CAP:
            b = spark.createDataFrame(b_cached.collect(), b.schema)
        else:
            b = b_cached.localCheckpoint(eager=True)
    # the verifier's NaN guard keeps one NaN-component benchmark row
    # from flagging every corpus row in its cell
    return (
        _cosine_verified(c.join(F.broadcast(b), on="__cell", how="inner"),
                         [id_col], threshold,
                         ("__vc", "__vb", "__nc", "__nb"), "__cos")
        .select(id_col)
        .distinct()
    )


def semantic_decontaminate(corpus: DataFrame, benchmark: DataFrame,
                           centroids,
                           threshold: float = 0.95,
                           vec_col: str = "embedding",
                           id_col: str = "vec_id",
                           assign_method: str = "auto") -> DataFrame:
    """Drop semantically benchmark-contaminated rows from the corpus:
    anti-join against :func:`semantic_contaminated_ids` (a tiny id set —
    broadcast anti-join, corpus read once)."""
    bad = semantic_contaminated_ids(corpus, benchmark, centroids,
                                    threshold, vec_col, id_col,
                                    assign_method=assign_method)
    return corpus.join(bad, id_col, "left_anti")


def opq_permutation(df: DataFrame, m: int = 8,
                    vec_col: str = "embedding",
                    dim: int | None = None) -> list[int]:
    """OPQ-lite: a deterministic dimension permutation that balances
    per-dimension variance across the m PQ subspaces.

    Full OPQ (Ge et al. 2013) learns an orthogonal rotation by
    eigendecomposition; the -lite variant keeps the engine-portable
    subset — a PERMUTATION is orthogonal, cheap to apply (pure column
    reindexing, no matmul per row), and already fixes the common PQ
    failure where a few high-variance dimensions land in the same
    subspace and its k cells must quantize most of the energy alone.

    One posexplode aggregation computes per-dimension variance (the
    shuffle carries <= dim rows per task — map-side combined), then a
    greedy driver-side balanced assignment: dimensions in descending
    variance order, each placed into the eligible (non-full) subspace
    with the smallest variance sum (longest-processing-time scheduling,
    a 4/3-approximation of the balanced partition).  Returns ``perm``
    with the new vector being ``[vec[perm[0]], vec[perm[1]], ...]``;
    apply with :func:`permute_vec` (and permute the query the same way
    — squared L2 is permutation-invariant, so exact distances and
    ground truth are unchanged)."""
    dim = _require_dim(dim, vec_col)
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    dsub = dim // m
    rows = (
        df.select(F.posexplode(F.col(vec_col)).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.var_samp(F.col("v").cast("double")).alias("var"))
        .collect()
    )
    var = {int(r["pos"]): float(r["var"] or 0.0) for r in rows}
    order = sorted(range(dim), key=lambda i: (-var.get(i, 0.0), i))
    groups: list[list[int]] = [[] for _ in range(m)]
    sums = [0.0] * m
    for d in order:
        j = min((g for g in range(m) if len(groups[g]) < dsub),
                key=lambda g: (sums[g], g))
        groups[j].append(d)
        sums[j] += var.get(d, 0.0)
    for g in groups:
        g.sort()  # stable within-subspace layout
    return [d for g in groups for d in g]


def permute_vec(vec: Column, perm: list[int]) -> Column:
    """Reindex an array column by a permutation (1-based element_at):
    map-only codegen, the apply side of :func:`opq_permutation`."""
    return F.array(*[F.element_at(vec, int(i) + 1) for i in perm])


def _pq_sub_cells(f, vec, books):
    """Spec: one (sub, cid, s) row per subspace — the sub-vector ``s``
    and its nearest sub-centroid ``cid`` — as an ``inline`` generator."""
    dsub = len(books[0][0])

    def entry(j):
        sub = f.slice(vec, j * dsub + 1, dsub)
        return f.struct(f.lit(j).alias("sub"),
                        _kmeans_cell(f, sub, books[j]).alias("cid"),
                        sub.alias("s"))

    return f.inline(f.array(*[entry(j) for j in range(len(books))]))


def _adc_dist(query_vec: list[float], codebooks: list[list[list[float]]],
              code_col: str) -> Column:
    """Asymmetric-distance expression over a code column: per subspace,
    one literal-array lookup of ||q_j - codebook[j][code_j]||^2 (the
    LUT is computed driver-side — the query is a constant), summed
    left-assoc.  m lookups + m-1 adds per row, pure codegen."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    luts = [
        [sum((float(query_vec[j * dsub + i]) - cen[i]) ** 2
             for i in range(dsub))
         for cen in codebooks[j]]
        for j in range(m)
    ]
    # one SQL parse for the whole m-term sum (r14)
    return render(_adc_sum, code_col, luts)


def _adc_sum(f, code, luts):
    """Spec: left-assoc sum over subspaces of the LUT entry the code
    selects."""
    from functools import reduce
    from operator import add

    from .util import lit_num_array

    return reduce(add, [f.element_at(lit_num_array(lut, "double", f),
                                     f.element_at(code, j + 1) + 1)
                        for j, lut in enumerate(luts)])


def pq_topk_coded(df: DataFrame, query_vec: list[float],
                  codebooks: list[list[list[float]]], k: int = 10,
                  code_col: str = "pq_code",
                  id_col: str = "vec_id") -> DataFrame:
    """Top-k by ADC over a MATERIALIZED code table (:func:`pq_encode`
    output written to parquet): the scan reads ONLY (id, code) —
    column pruning drops the float vectors entirely, which is the
    ~32x-smaller scan that makes PQ pay at 100 TB.  Re-rank the
    returned pool against the raw vectors with an id join when recall
    matters (a point-lookup join over k rows, not a second full
    scan)."""
    dist = _adc_dist(query_vec, codebooks, code_col)
    return (
        df.select(F.col(id_col), F.round(dist, 6).alias("pq_dist"))
        .orderBy(F.col("pq_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def pq_topk(df: DataFrame, query_vec: list[float], k: int = 10,
            codebooks: list[list[list[float]]] | None = None,
            vec_col: str = "embedding", id_col: str = "vec_id",
            m: int = 8, n_codes: int = 16,
            pool: int | None = None) -> DataFrame:
    """Approximate top-k nearest (squared L2) by asymmetric distance:
    encode each vector (or reuse a materialized ``pq_code`` column via
    :func:`pq_encode` + a parquet sink), look the per-subspace
    distances up in a query-specific table computed driver-side, and
    TakeOrdered the sum.

    The LUT (m x k floats) folds into the plan as literals — the scan
    reads codes, does m array lookups and m-1 adds per row, nothing
    else; with a stored code column the raw embeddings are never read.
    Returns (id, pq_dist) ascending.

    ``pool=P`` adds the standard exact re-rank: TakeOrdered the P best
    by ADC (codes only — the cheap full scan), then compute exact
    squared L2 on just those P rows and keep the best k; returned
    column is then the exact ``l2_dist``.  The full corpus still pays
    only the compressed-code scan."""
    if codebooks is None:
        codebooks = pq_codebooks(len(query_vec), m=m, k=n_codes)
    from .util import fan_out

    encoded = pq_encode(fan_out(df), codebooks, vec_col=vec_col)
    dist = _adc_dist(query_vec, codebooks, "pq_code")
    if pool is None:
        return (
            encoded.select(
                F.col(id_col), F.round(dist, 6).alias("pq_dist")
            )
            .orderBy(F.col("pq_dist").asc(), F.col(id_col).asc())
            .limit(k)
        )
    if pool < k:
        raise ValueError(f"pool={pool} must be >= k={k}")
    cands = (
        encoded.select(F.col(id_col), F.col(vec_col), dist.alias("__adc"))
        .orderBy(F.col("__adc").asc(), F.col(id_col).asc())
        .limit(pool)
    )
    exact = _sq_l2(F.col(vec_col), _qlit(query_vec))
    return (
        cands.select(F.col(id_col), F.round(exact, 6).alias("l2_dist"))
        .orderBy(F.col("l2_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF-PQ: the standard billion-vector index layout (FAISS IVFADC) on parquet
# — coarse cells become PARTITION directories (metadata-only pruning), PQ
# codes become the scanned bytes, raw vectors are only touched to re-rank a
# bounded pool.
# ---------------------------------------------------------------------------

def _cent_lit(centroids: list[list[float]], f=F) -> Column:
    from .util import lit_num_array

    # k foldable row literals under one CreateArray (k children) —
    # the element-wise form walked k x dim literal children per build
    return f.array(*[
        lit_num_array([float(v) for v in cen], "double", f)
        for cen in centroids
    ])


def ivfpq_encode(df: DataFrame, centroids: list[list[float]],
                 codebooks: list[list[list[float]]],
                 vec_col: str = "embedding",
                 residual: bool = True,
                 store_vectors: bool = True,
                 assign_method: str = "auto") -> DataFrame:
    """The row transform of the IVF-PQ index: attach the coarse ``cell``
    (argmin squared L2) and the ``pq_code`` (residual-encoded when
    ``residual``).  NO shuffle, no state — so it applies to a STREAMING
    DataFrame unchanged (``streaming.ivfpq_append_stream`` builds on
    exactly this; both large-k paths below stay stream-legal:
    ``mapInPandas`` runs on streams, and the residual lookup is a
    stream-static BROADCAST join).

    ``assign_method`` dispatches like :func:`assign_cells` — codegen
    argmin with the centroid literal at small k; above 256 cells the
    flat-plan broadcast-matrix kernel, with the per-cell centroid for
    the residual fetched by broadcast join instead of a k x dim plan
    literal (the r6 large-k ceiling, retired for indexes too)."""
    vec = F.col(vec_col)
    if assign_method == "auto":
        assign_method = ("literal" if len(centroids) <= _LITERAL_MAX_K
                         else "numpy")
    if assign_method == "literal":
        staged = df.withColumn("cell", kmeans_cell(vec_col, centroids))
        if residual:
            code_src = F.zip_with(
                vec,
                F.element_at(_cent_lit(centroids), F.col("cell") + 1),
                lambda x, y: x.cast("double") - y,
            )
        else:
            code_src = vec
    else:
        staged = assign_cells(df, centroids, vec_col=vec_col,
                              out_col="cell", method="numpy")
        if residual:
            cdf = _centroids_as_df(df.sparkSession, centroids) \
                .withColumnRenamed("cid", "cell")
            # LEFT join: a null embedding has a null cell, and an inner
            # join would silently drop the row — whereas the literal path
            # keeps it with a null pq_code.  Index contents must not
            # depend on which assignment strategy k dispatched to.
            staged = (
                staged.join(F.broadcast(cdf), "cell", "left")
                .select(*df.columns, "cell", "centroid")
            )
            code_src = F.zip_with(
                vec, F.col("centroid"),
                lambda x, y: x.cast("double") - y,
            )
        else:
            code_src = vec
    staged = staged.withColumn("__src", code_src)
    coded = pq_encode(staged, codebooks, vec_col="__src") \
        .drop("__src", "centroid")
    if not store_vectors:
        coded = coded.drop(vec_col)
    return coded


def write_ivfpq(df: DataFrame, path: str,
                centroids: list[list[float]],
                codebooks: list[list[list[float]]],
                vec_col: str = "embedding", id_col: str = "vec_id",
                residual: bool = True,
                store_vectors: bool = True,
                write_meta: bool = True,
                skew_check: bool = True) -> None:
    """Materialize an IVF-PQ index: rows are assigned to their L2-argmin
    coarse cell (:func:`kmeans_cell`), PQ-encoded — classically on the
    RESIDUAL vector v - centroid[cell], which centers each cell's data
    on the codebooks and tightens quantization — and written with the
    cell as a parquet PARTITION column.  ``store_vectors`` keeps the
    raw vectors in the same files for the re-rank fetch (column
    pruning keeps them out of the ADC scan).  ``write_meta`` persists
    the quantizer model as a sidecar so
    :func:`ivfpq_topk_auto` can query the index from its path alone.

    One map-only pass over the corpus; no shuffle beyond the write's
    own file layout.

    Skew check (r11, recalibrated + de-scanned r12): after the write,
    the per-cell histogram is derived from the parquet FOOTER row
    counts under each ``cell=...`` partition dir (pyarrow metadata
    walk — no Spark scan job, and only rows this write produced are
    counted).  A ``UserWarning`` fires when one cell holds >10x the
    average or >max(20%, 3/k) of the corpus — the 3/k term keeps the
    absolute-share rule from over-firing at small k, where even a
    perfectly trained quantizer legitimately parks ~30% of a uniform
    corpus in its biggest L2 Voronoi cell (k=8 repro: top cell
    606/2000).  Untrained/random centroids on clustered data produce
    the warned shape (r10: 840k of 2M vectors in one cell; r11 soak:
    561k of 2M), and every downstream reader then pays a fat-cell
    task.  The index still writes (the BLAS lanes survive skew); the
    warning names the fix (:func:`kmeans_fit`).  ``skew_check=False``
    skips the footer walk entirely (non-local paths, hot loops)."""
    coded = ivfpq_encode(df, centroids, codebooks, vec_col=vec_col,
                         residual=residual,
                         store_vectors=store_vectors)
    coded.write.mode("overwrite").partitionBy("cell").parquet(path)
    if write_meta:
        write_ivfpq_meta(df.sparkSession, path, centroids, codebooks,
                         residual, store_vectors, vec_col, id_col)
    counts = []
    if skew_check:
        from .util import _partition_footer_rows

        parts = _partition_footer_rows(path, "cell")
        if parts is None:
            # the silent downgrade leaves a trace (r12 advice)
            _log.debug("cell skew check skipped: no local footer walk "
                       "of %r", path)
        counts = [sum(p) for p in parts or []]
    if counts:
        total, biggest = sum(counts), max(counts)
        k = max(1, len(centroids))
        avg = total / k
        share_cap = max(0.2, 3.0 / k)
        if total >= 1000 and (biggest > share_cap * total
                              or biggest > 10 * avg):
            import warnings

            # the index stays usable — lookups auto-route fat cells to
            # the salted BLAS lanes — but the quantizer isn't quantizing
            warnings.warn(
                f"write_ivfpq: the largest of {len(counts)} occupied "
                f"cells holds {biggest} of {total} vectors "
                f"({100 * biggest / total:.0f}%; cell average "
                f"{avg:.0f}) — the coarse quantizer is not spreading "
                "this corpus (untrained/random centroids on clustered "
                "data?). Train centroids with kmeans_fit("
                "spherical=True) or raise n_cells; every reader of "
                "this index pays the fat cell otherwise.",
                UserWarning, stacklevel=2)


IVFPQ_META_FILE = "_ivfpq_meta.json"


def write_ivfpq_meta(spark, path: str, centroids: list[list[float]],
                     codebooks: list[list[list[float]]],
                     residual: bool, store_vectors: bool,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id") -> None:
    """Persist the quantizer model as an underscore sidecar inside the
    index directory (scans ignore it like _SUCCESS), making the index
    SELF-DESCRIBING: a consumer needs only the path, not a re-derivation
    of the trained centroids/codebooks.  Written via the Hadoop
    FileSystem so it lands on whatever scheme the index uses."""
    meta = {
        "format": "ivfpq/1",
        "dim": len(centroids[0]),
        "n_cells": len(centroids),
        "m": len(codebooks),
        "k_codes": len(codebooks[0]),
        "residual": bool(residual),
        "store_vectors": bool(store_vectors),
        "vec_col": vec_col,
        "id_col": id_col,
        "centroids": centroids,
        "codebooks": codebooks,
    }
    from .util import fs_write_json

    fs_write_json(spark, path + "/" + IVFPQ_META_FILE, meta)


# parsed-sidecar cache keyed by (path -> file (mtime, length)): at the
# k~10⁵ coarse quantizers the stack supports, re-parsing ~7M centroid
# floats from JSON and re-building the numpy matrix costs >1 s PER
# QUERY — 20x the matvec the matrix exists for.  The (mtime, length)
# key makes index swaps (ivfpq_maintain's atomic rename) invalidate
# naturally even on object stores whose mtime is 1 s-granular (S3): a
# rebuild inside the same second still moves the sidecar byte length
# in practice; pass use_cache=False in tight rebuild-then-query loops
# where even that is not guaranteed.
# BOUNDED (LRU): one k=110k entry is ~56 MB of matrix plus a larger
# Python centroid list — an unbounded dict leaks driver memory under
# rolling maintenance that cycles through many index paths.
_IVFPQ_META_CACHE_MAX = 8
_IVFPQ_META_CACHE: dict = {}


def read_ivfpq_meta(spark, path: str, *, use_cache: bool = True) -> dict:
    """Load the :func:`write_ivfpq_meta` sidecar of an index.

    The returned dict additionally carries ``_centroids_np``, the
    centroid matrix pre-converted to a (k, dim) float64 ndarray for
    query-time probe selection.  Parsed sidecars are cached per path
    and invalidated by (file modification time, byte length); each
    call returns a fresh SHALLOW copy — adding/removing/replacing keys
    on the result cannot poison later queries — and the nested values
    SHARED with the cache are frozen (``centroids``/``codebooks`` are
    nested tuples, ``_centroids_np`` a read-only ndarray): an
    accidental in-place mutation raises instead of corrupting later
    queries.  Copy before mutating on purpose; pass
    ``use_cache=False`` to force a re-read."""
    from .util import fs_read_json, fs_stat

    meta_path = path + "/" + IVFPQ_META_FILE
    try:
        stat = fs_stat(spark, meta_path)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"no {IVFPQ_META_FILE} under {path!r} — the index was "
            "written without metadata (write_ivfpq(write_meta=False)); "
            "pass centroids/codebooks explicitly to ivfpq_topk")
    if use_cache:
        hit = _IVFPQ_META_CACHE.get(path)
        if hit is not None and hit[0] == stat:
            # refresh LRU recency
            _IVFPQ_META_CACHE[path] = _IVFPQ_META_CACHE.pop(path)
            return dict(hit[1])
    meta = fs_read_json(spark, meta_path)
    if meta.get("format") != "ivfpq/1":
        raise ValueError(f"unknown index metadata format: "
                         f"{meta.get('format')!r}")
    import numpy as np

    # freeze everything the cache shares across calls: the nested
    # centroid/codebook lists become tuples (item assignment raises)
    # and the ndarray is marked read-only — a caller mutation raises
    # instead of silently poisoning every later query on this index
    def _freeze(x):
        return tuple(_freeze(v) for v in x) \
            if isinstance(x, (list, tuple)) else x

    meta["centroids"] = _freeze(meta["centroids"])
    meta["codebooks"] = _freeze(meta["codebooks"])
    arr = np.asarray(meta["centroids"], dtype=np.float64)
    arr.setflags(write=False)
    meta["_centroids_np"] = arr
    _IVFPQ_META_CACHE.pop(path, None)
    _IVFPQ_META_CACHE[path] = (stat, meta)
    while len(_IVFPQ_META_CACHE) > _IVFPQ_META_CACHE_MAX:
        _IVFPQ_META_CACHE.pop(next(iter(_IVFPQ_META_CACHE)))
    return dict(meta)


def ivfpq_topk_auto(spark, path: str, query_vec: list[float],
                    k: int = 10, nprobe: int = 2,
                    pool: int | None | str = "auto",
                    extra_paths: list[str] | None = None):
    """Query a self-describing :func:`write_ivfpq` index: the quantizer
    model, residual mode and column names all come from the sidecar.

    ``pool="auto"`` (default) lands inside the MEASURED safe operating
    region (`ANN_CURVE_r06.json` / SCALE.md): exact re-rank with
    ``pool = 8 * k * max(nprobe, 2)`` — i.e. 16·k at the default
    nprobe=2 AND at nprobe=1 (the floor of 2 keeps the single-probe
    pool at the measured recall-1.0 sizing; 8·k alone was not
    measured), and COUPLED to nprobe because raising nprobe at a fixed
    pool was measured to HURT recall (each extra probed cell
    contributes ADC-plausible imposters that crowd true neighbors out
    of a fixed-size pool).  Pass ``pool=None`` for explicit ADC-only
    ranking, or an int to pin the pool.  Auto quietly degrades to
    ADC-only when the index was written with ``store_vectors=False``
    (no vectors to re-rank against)."""
    meta = read_ivfpq_meta(spark, path)
    if pool == "auto":
        pool = 8 * k * max(nprobe, 2) if meta.get("store_vectors") \
            else None
    return ivfpq_topk(
        spark, path, query_vec,
        centroids=meta.get("_centroids_np", meta["centroids"]),
        codebooks=meta["codebooks"],
        k=k, nprobe=nprobe, residual=meta["residual"], pool=pool,
        vec_col=meta["vec_col"], id_col=meta["id_col"],
        extra_paths=extra_paths,
    )


def ivfpq_fold_staging(spark, index_path: str, staging_path: str | None,
                       out_path: str,
                       target_file_bytes: int = 128 << 20,
                       dedup_ids: bool = False) -> dict:
    """The maintenance pass of the streaming-ingest pattern: fold a
    staging root (``streaming.ivfpq_append_stream``) and the base index
    into a fresh, compacted index at ``out_path`` — one batch rewrite
    hash-clustered on the cell — and carry the quantizer-model sidecar
    over.  Swap ``out_path`` in for the base, then reset the staging
    dir and its checkpoint.  ``staging_path=None`` compacts the base
    alone — the shape :func:`semantic_ingest_stream`'s direct-append
    lane maintains with.  ``dedup_ids=True`` drops duplicate id rows
    during the rewrite (at-least-once replays of an ingest stream
    re-append identical rows; one copy survives).  Returns
    compact_parquet's stats."""
    from ..sources.sinks import _hadoop_files, compact_parquet
    from .util import hadoop_fs

    meta = read_ivfpq_meta(spark, index_path)
    roots = [index_path]
    # a missing or data-less staging root (nothing streamed yet, or a
    # maintenance rerun after the reset already happened) folds as a
    # plain compaction of the base — not an error
    if staging_path is not None:
        hpath, fs = hadoop_fs(spark, staging_path)
        if fs.exists(hpath) and _hadoop_files(spark, staging_path):
            roots.append(staging_path)
    stats = compact_parquet(
        spark, roots, out_path,
        target_file_bytes=target_file_bytes, partition_by=["cell"],
        dedup_cols=[meta["id_col"]] if dedup_ids else None,
    )
    write_ivfpq_meta(
        spark, out_path, meta["centroids"], meta["codebooks"],
        meta["residual"], meta["store_vectors"],
        meta["vec_col"], meta["id_col"],
    )
    return stats


def ivfpq_recover(spark, index_path: str) -> str | None:
    """Finish or roll back an INTERRUPTED :func:`ivfpq_maintain` swap
    without running maintenance: the standalone recovery entry point a
    restarting reader/stream runs BEFORE touching the index.

    A crash inside the swap window (between the two directory renames)
    leaves no directory at ``index_path``; any code that starts with
    ``read_ivfpq_meta`` — including
    :func:`streaming.semantic_ingest_stream`'s constructor — would
    fail with FileNotFound before maintenance-side recovery could run.
    ``streaming.semantic_ingest_stream`` and
    ``streaming.ivfpq_append_stream`` call this automatically at
    stream construction; call it manually when another process reads
    the index after a crashed maintenance run.  Trusts the journal's
    own recorded staging/checkpoint paths for the roll-forward reset.
    Safe no-op (returns ``None``) when no swap journal exists.
    Decision table: :func:`extras.util.recover_swap`."""
    from .util import recover_swap

    return recover_swap(spark, index_path)


def ivfpq_maintain(spark, index_path: str, staging_path: str | None,
                   checkpoint_path: str | None = None, *,
                   target_file_bytes: int = 128 << 20,
                   dedup_ids: bool = False) -> dict:
    """One-call IVF-PQ maintenance: fold the base index and the
    streaming staging root (:func:`ivfpq_fold_staging`) into a fresh
    compacted index, SWAP it in at ``index_path``, and reset the
    staging root (and the appender's ``checkpoint_path``, if given) so
    ``streaming.ivfpq_append_stream`` restarts cleanly on an empty
    staging extension.  STOP the appender query before calling —
    staging must be frozen so the fold captures exactly its contents.

    ``staging_path=None`` compacts the base index alone (no staging
    fold, no staging/checkpoint reset) — the maintenance shape for
    :func:`streaming.semantic_ingest_stream`'s direct-append lane,
    whose ``maintain_every`` hook calls this with ``dedup_ids=True``
    to fold away replayed at-least-once appends.

    Crash-safety is the journaled swap of :func:`extras.util.swap_in`
    (shared with :func:`dedup.minhash_index_maintain`; protocol and
    recovery decision table documented there): the fold writes
    ``<index>.__new`` while the live index stays queryable, a journal
    recording the index/staging/checkpoint paths brackets the two
    directory renames, and staging + checkpoint are reset once the
    swap has landed.  A rerun invoked with a DIFFERENT staging root
    than an interrupted run's journal fails loudly instead of
    resetting a root whose rows were never folded.

    Returns compact stats + {"recovered": <action or None>}."""
    from .util import swap_in

    return swap_in(
        spark, index_path,
        lambda new_path: ivfpq_fold_staging(
            spark, index_path, staging_path, new_path,
            target_file_bytes=target_file_bytes, dedup_ids=dedup_ids),
        staging=staging_path, checkpoint=checkpoint_path)


def ivfpq_topk(spark, path: str, query_vec: list[float],
               centroids: list[list[float]],
               codebooks: list[list[list[float]]],
               k: int = 10, nprobe: int = 2,
               vec_col: str = "embedding", id_col: str = "vec_id",
               residual: bool = True,
               pool: int | None = None,
               extra_paths: list[str] | None = None) -> DataFrame:
    """Top-k (squared L2) over a :func:`write_ivfpq` table: probe the
    query's ``nprobe`` closest cells — a partition-column predicate, so
    non-matching directories are pruned from metadata — ADC-score ONLY
    the code column of the probed cells (one literal LUT per cell when
    ``residual``, since the query residual differs per cell), and with
    ``pool=P`` re-rank the P best candidates against the raw vectors
    via a second scan of the same probed partitions semi-joined on the
    pool ids (a broadcast of P ids, never a second full pass).

    Operating guidance (measured, ANN_CURVE_r06.json / SCALE.md): on
    near-duplicate-heavy corpora the exact re-rank is load-bearing —
    use ``pool >= 16*k`` with trained codebooks for recall ~1.0 at any
    nprobe; ADC-only ranking cannot separate near-identical neighbors.
    With weak (data-independent) codebooks, raise ``pool`` TOGETHER
    with ``nprobe``: extra probed cells add ADC-plausible imposters
    that crowd true neighbors out of a fixed-size pool."""
    probe = _query_probe_cells(query_vec, centroids, nprobe, metric="l2")
    # extra_paths: streaming-staged appends (ivfpq_append_stream) — each
    # root carries the same cell=NN layout; a staged root's
    # _spark_metadata log governs only its own files, so reading the
    # roots per-root and unioning sees base + appends (appending
    # streamed files INTO the base root would instead shadow the batch
    # files behind the sink's metadata log, and a single multi-root
    # read trips CONFLICTING_DIRECTORY_STRUCTURES without a shared
    # basePath).  Partition pruning applies within each root.
    reader = spark.read.parquet(path)
    for p in (extra_paths or []):
        reader = reader.unionByName(spark.read.parquet(p))
    if pool is not None and vec_col not in reader.columns:
        raise ValueError(
            f"ivfpq_topk(pool={pool}): index at {path!r} was written "
            f"with store_vectors=False — the {vec_col!r} column needed "
            "for exact re-ranking is not stored. Rewrite the index with "
            "write_ivfpq(..., store_vectors=True) or query with "
            "pool=None (ADC-only)."
        )
    parts = []
    for ci in probe:
        if residual:
            rq = [float(q) - c for q, c in zip(query_vec, centroids[ci])]
        else:
            rq = [float(q) for q in query_vec]
        adc = _adc_dist(rq, codebooks, "pq_code")
        parts.append(
            reader.filter(F.col("cell") == ci)
            .select(F.col(id_col), adc.alias("__adc"))
        )
    un = parts[0]
    for p in parts[1:]:
        un = un.unionAll(p)
    if pool is None:
        return (
            un.select(F.col(id_col), F.round("__adc", 6).alias("pq_dist"))
            .orderBy(F.col("pq_dist").asc(), F.col(id_col).asc())
            .limit(k)
        )
    if pool < k:
        raise ValueError(f"pool={pool} must be >= k={k}")
    cand_ids = (
        un.orderBy(F.col("__adc").asc(), F.col(id_col).asc())
        .limit(pool).select(id_col)
    )
    fetched = (
        reader.filter(F.col("cell").isin([int(c) for c in probe]))
        .join(F.broadcast(cand_ids), id_col, "left_semi")
    )
    exact = _sq_l2(F.col(vec_col), _qlit(query_vec))
    return (
        fetched.select(F.col(id_col), F.round(exact, 6).alias("l2_dist"))
        .orderBy(F.col("l2_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


_INTEGRAL_WIDTH = {"byte": 1, "short": 2, "integer": 4, "long": 8}


# bytes of integer range a float type represents EXACTLY: float holds
# every integer to 2^24 (covers 1/2-byte integrals), double to 2^53
# (covers byte/short/int, NOT long)
_FLOAT_EXACT_INT_BYTES = {"float": 3, "double": 6}


def _check_integral_narrowing(src_dt, dst_dt, col: str, *,
                              id_col: bool = False) -> None:
    """Refuse integral narrowing (long ids into an int-id index): a
    bare cast under ANSI-off silently WRAPS out-of-range values, which
    would admit rows under wrong — possibly colliding — ids.  Float
    narrowing (double vectors into a float index) is the intended
    alignment and stays allowed — EXCEPT for id columns
    (``id_col=True``), where an integral cast into a float type wider
    than the source's exact-integer range (long→double above 2^53,
    int/long→float above 2^24) silently rounds distinct ids onto the
    same value, colliding rows on append."""
    s = _INTEGRAL_WIDTH.get(src_dt.typeName())
    d = _INTEGRAL_WIDTH.get(dst_dt.typeName())
    if s is not None and d is not None and s > d:
        raise ValueError(
            f"column {col!r} is {src_dt.simpleString()} but the index "
            f"stores {dst_dt.simpleString()}: refusing the narrowing "
            "cast (out-of-range ids would silently wrap); re-id the "
            "increment or rebuild the index with the wider type")
    if id_col and s is not None:
        exact = _FLOAT_EXACT_INT_BYTES.get(dst_dt.typeName())
        if exact is not None and s > exact:
            raise ValueError(
                f"id column {col!r} is {src_dt.simpleString()} but the "
                f"index stores {dst_dt.simpleString()}: refusing the "
                "integral-to-floating cast (ids beyond the float "
                "type's exact-integer range would silently collide); "
                "rebuild the index with an integral id column")
    if id_col and src_dt.typeName() in ("float", "double") \
            and d is not None:
        # the reverse direction loses information too: a float-typed
        # id cast into an integral index TRUNCATES fractional values
        # and (ANSI off) wraps out-of-range ones — colliding ids
        raise ValueError(
            f"id column {col!r} is {src_dt.simpleString()} but the "
            f"index stores {dst_dt.simpleString()}: refusing the "
            "floating-to-integral cast (fractional/out-of-range ids "
            "would silently truncate or wrap); cast the increment's "
            "ids to an exact integral type explicitly first")


def _align_to_index_schema(spark, index_path: str, df: DataFrame,
                           cols: list[str],
                           index_schema=None,
                           id_cols: tuple = ()) -> DataFrame:
    """Cast ``cols`` of ``df`` to the types the index files already
    store.  Appending rows of a LOOKALIKE type (array<double> vectors
    into an array<float> index, int ids into a long-id index) writes
    mixed-schema files into the partition dirs; later reads infer one
    type from a footer and crash on the other
    (PARQUET_COLUMN_DATA_TYPE_MISMATCH) — found by
    tests/test_streaming.py::test_semantic_ingest_stream_cross_batch_and_replay.
    Integral narrowing raises instead of wrapping, and columns named
    in ``id_cols`` additionally refuse precision-losing
    integral-to-floating casts (long ids into a double id column
    collide above 2^53).  Pass ``index_schema`` (captured once) to
    skip the per-call index listing — streaming appenders capture it
    at stream start."""
    idx_schema = (index_schema if index_schema is not None
                  else spark.read.parquet(index_path).schema)
    names = set(idx_schema.fieldNames())
    for c in cols:
        if c in df.columns and c in names:
            _check_integral_narrowing(df.schema[c].dataType,
                                      idx_schema[c].dataType, c,
                                      id_col=c in id_cols)
            df = df.withColumn(c, F.col(c).cast(idx_schema[c].dataType))
    return df


# one task may spend at most ~this many interpreted probe x index
# cosine evaluations before the Arrow/BLAS lane takes over — the same
# interpreted-pair-work budget as semdedup's cell_task_cap (2048^2),
# and the index-side rows one BLAS task handles per salted block
_HIT_PAIR_BUDGET = 4_000_000
_HIT_IDX_BLOCK = 65_536


def _hit_pairs_numpy_kernel(threshold: float, block: int = _SLAB):
    """applyInPandas kernel: cross cosines between the probe side
    (``__side`` 0) and index side (``__side`` 1) of one (cell, salt
    block), emitting (__pid, __iid) pairs — the hits of
    :func:`_cosine_slabs` — instead of one interpreted Catalyst
    ArrayAggregate per PAIR (r11: the sf100 stream-recovery soak
    measured the interpreted lane at ~10 min per 1000-vector
    micro-batch against a 2M-vector index; this kernel does the same
    31M cosines in seconds).  The slab bound keeps a salted block of
    ``_HIT_IDX_BLOCK`` index rows at 32 MB per slab instead of a ~1 GiB
    allocation per task (r12)."""
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame({"__pid": [], "__iid": []})

    def fn(pdf):
        a = pdf[pdf["__side"] == 0]
        b = pdf[pdf["__side"] == 1]
        ia, ib = a["__id"].to_numpy(), b["__id"].to_numpy()
        out = []
        for s, c, hit, _ in _cosine_slabs(a["__v"], b["__v"], threshold,
                                          block, block):
            r, k = np.nonzero(hit)
            if len(r):
                out.append(pd.DataFrame({"__pid": ia[s + r],
                                         "__iid": ib[c + k]}))
        return pd.concat(out) if out else empty

    return fn


def _embedding_hit_pairs(spark, index_path: str, meta: dict,
                         probed: DataFrame, threshold: float,
                         pair_backend: str = "auto") -> DataFrame | None:
    """(__pid, __iid) pairs between an exploded probe frame
    (``__pid``, ``__pv``, ``cell``) and the index: the distinct probed
    cells (at most k values) are collected and pushed as a LITERAL
    partition filter into the index scan — static pruning — then exact
    cosine gates the candidates.  None when the probe produced no
    cells (all-null increment).

    ``pair_backend`` mirrors semdedup's knob: ``"sql"`` evaluates the
    candidate cosines as Catalyst expressions (Python-free, oracle
    round semantics), ``"numpy"`` runs one Arrow/BLAS kernel per
    (cell, salt block), ``"auto"`` routes by the PROJECTED pair count
    (per-cell probe x index row products, two bounded count folds):
    above ``_HIT_PAIR_BUDGET`` the interpreted lane is the hot-path
    tax r9 measured at ~4 µs/pair, so the kernel takes over; fat cells
    are salted into ``ceil(n_idx / _HIT_IDX_BLOCK)`` blocks (index
    rows partitioned by id hash, probes replicated per block — exact,
    every pair in exactly one block) so one popular cell cannot
    serialize the batch."""
    vec_col, id_col = meta["vec_col"], meta["id_col"]
    if pair_backend not in ("auto", "sql", "numpy"):
        raise ValueError(f"pair_backend must be 'auto', 'sql' or "
                         f"'numpy', got {pair_backend!r}")
    cells = sorted(r["cell"] for r in
                   probed.select("cell").distinct().collect())
    if not cells:
        return None
    from ..sources import spark_read_parquet as _srp
    idx = _srp(spark, index_path)
    # literal pruning pays off only while the IN list is small: a large
    # increment at k~10^5 probes most cells, and a 10^5-literal filter
    # is the literal-plan explosion the flat-k assignment kernel exists
    # to avoid — past the gate the cell equi-join alone is equivalent
    # (every partition would be read anyway)
    if len(cells) <= min(16384, max(1024, meta["n_cells"] // 4)):
        idx = idx.filter(F.col("cell").isin(cells))
    idx = idx.select(F.col(id_col).alias("__iid"),
                     F.col(vec_col).alias("__iv"), "cell")

    backend = pair_backend
    icnt = None
    if backend == "auto":
        # both folds are bounded by the probed cell count (<= k rows)
        pcnt = {r["cell"]: r["n"] for r in
                probed.groupBy("cell")
                .agg(F.count(F.lit(1)).alias("n")).collect()}
        icnt = {r["cell"]: r["n"] for r in
                idx.groupBy("cell")
                .agg(F.count(F.lit(1)).alias("n")).collect()}
        projected = sum(n * icnt.get(c, 0) for c, n in pcnt.items())
        backend = "numpy" if projected > _HIT_PAIR_BUDGET else "sql"

    if backend == "numpy":
        if icnt is None:
            icnt = {r["cell"]: r["n"] for r in
                    idx.groupBy("cell")
                    .agg(F.count(F.lit(1)).alias("n")).collect()}
        tmap = spark.createDataFrame(
            [(c, max(1, -(-n // _HIT_IDX_BLOCK)))
             for c, n in icnt.items()] or [(cells[0], 1)],
            f"cell {idx.schema['cell'].dataType.simpleString()}, "
            "__t int")
        dim = meta.get("dim") or len(meta["centroids"][0])
        # probe side: only kernel-stackable vectors can match anyway
        # (the SQL lane nulls their cosine out) — replicate each probe
        # into every salt block of its cell
        a = (
            probed.filter(_matchable_vec("__pv")
                          & (F.size("__pv") == dim))
            .join(F.broadcast(tmap), on="cell", how="inner")
            .select("cell",
                    F.explode(F.expr("sequence(0, __t - 1)"))
                    .alias("__blk"),
                    F.col("__pid").alias("__id"),
                    F.col("__pv").alias("__v"),
                    F.lit(0).alias("__side"))
        )
        # index side: each row in exactly one block of its cell
        b = (
            idx.join(F.broadcast(tmap), on="cell", how="inner")
            .select("cell",
                    F.pmod(F.xxhash64("__iid"), F.col("__t"))
                    .cast("int").alias("__blk"),
                    F.col("__iid").alias("__id"),
                    F.col("__iv").alias("__v"),
                    F.lit(1).alias("__side"))
        )
        pid_t = probed.schema["__pid"].dataType.simpleString()
        iid_t = idx.schema["__iid"].dataType.simpleString()
        kernel = _hit_pairs_numpy_kernel(threshold)
        return (
            a.unionByName(b).groupBy("cell", "__blk")
            .applyInPandas(kernel, f"__pid {pid_t}, __iid {iid_t}")
        )

    # a NaN cosine (NaN-component probe x indexed vector) must not
    # count as a hit, which would silently DROP the arrival
    return _cosine_verified(
        probed.withColumn("__pn", norm(F.col("__pv")))
        .join(idx.withColumn("__in", norm(F.col("__iv"))),
              on="cell", how="inner"),
        ["__pid", "__iid"], threshold,
        ("__pv", "__iv", "__pn", "__in"), "__cos",
    ).select("__pid", "__iid")


def _matchable_vec(vec_col: str):
    """True only for vectors a FUTURE probe could actually match: no
    null elements, no NaN components (NaN cosine never reaches any
    threshold), non-null array.  ``forall`` returns null — filtered
    out — for null arrays and null elements.  Dim mismatch is caught
    separately by the encoder's null cell."""
    return F.forall(F.col(vec_col),
                    lambda x: x.isNotNull() & ~F.isnan(x))


def embedding_filter_new(spark, index_path: str, new_vecs: DataFrame, *,
                         threshold: float = 0.9, n_probe: int = 2,
                         probe_margin: float | str | None = "auto",
                         admit: bool = False,
                         pair_backend: str = "auto") -> DataFrame:
    """Semantic ingest dedup — SemDeDup for INCREMENTS against a
    persisted :func:`write_ivfpq` index: drop arriving vectors whose
    cosine against ANY indexed vector reaches ``threshold``; return the
    survivors (all input columns).  The embedding twin of
    ``extras.dedup.neardup_filter_new``.

    Execution shape (the 100-TB story): arriving vectors are assigned
    to their ``n_probe`` nearest coarse cells (flat-plan numpy kernel;
    ``probe_margin="auto"`` prunes the extra probes to boundary vectors
    using the SemDeDup coupling ``2*sqrt(2*(1-threshold))`` — exact for
    unit-norm embeddings, see :func:`semdedup_pairs`).  The DISTINCT
    probed cells — at most k values — are collected and pushed as a
    LITERAL ``cell IN (...)`` filter into the index scan, so STATIC
    partition pruning reads only the probed cells' files no matter how
    large the index is; exact cosine runs on those candidates only and
    survivors are the anti-join.  Per-increment cost is a function of
    the increment and the probed cells, never the corpus.

    Requires ``store_vectors=True`` (exact cosine needs raw vectors).
    Ids must be globally unique across index and increments — an
    arriving row whose id is already indexed pairs with itself at
    cosine 1.0 and is dropped.

    Edge-input contract (r9, tested in ``tests/test_r9_fixes.py``):
    null vectors, vectors with null or NaN components, and
    dim-mismatched vectors always SURVIVE (no exact cosine can reach
    any threshold against them) but are NEVER admitted — they cannot
    match a future probe, and a null encoder cell would write a junk
    ``cell=__HIVE_DEFAULT_PARTITION__`` dir outside the literal probe
    filter's reach.

    ``admit=True`` appends the survivors into the index partition dirs,
    PQ-encoded with the sidecar's own model (so later increments dedupe
    against today's); survivor ids are snapshotted (eager
    localCheckpoint) BEFORE the append because the returned frame's
    plan reads the index path — Spark's append refreshes that path's
    cache entries and a still-referencing frame would re-evaluate
    against the just-admitted rows and come back empty (same contract
    as ``neardup_filter_new``)."""
    meta = read_ivfpq_meta(spark, index_path)
    if not meta.get("store_vectors"):
        raise ValueError(
            "embedding_filter_new needs store_vectors=True (exact "
            f"cosine reads raw vectors); the index at {index_path!r} "
            "was written without them")
    vec_col, id_col = meta["vec_col"], meta["id_col"]
    if probe_margin == "auto":
        probe_margin = 2.0 * (2.0 * (1.0 - threshold)) ** 0.5
    cents = meta.get("_centroids_np", meta["centroids"])

    probed = assign_cells_multi(
        new_vecs.select(F.col(id_col), F.col(vec_col)), cents,
        n_probe=n_probe, vec_col=vec_col, out_col="__cells",
        probe_margin=probe_margin,
    ).select(F.col(id_col).alias("__pid"),
             F.col(vec_col).alias("__pv"),
             F.explode("__cells").alias("cell"))
    with owned() as own:
        if admit:
            # three actions read `probed` under admit (cells collect,
            # the id snapshot, the append); without admit the returned
            # lazy frame outlives the block, so caching would be
            # written once and never read
            probed = own.persist(probed)
        hits = _embedding_hit_pairs(spark, index_path, meta, probed,
                                    threshold,
                                    pair_backend=pair_backend)
        if hits is not None:
            hit_ids = hits.select(
                F.col("__pid").alias(id_col)).distinct()
            out = new_vecs.join(hit_ids, on=id_col, how="left_anti")
        else:
            out = new_vecs
        if admit:
            ids = out.select(id_col).localCheckpoint()
            out = new_vecs.join(ids, on=id_col, how="left_semi")
            # ONLY (id, vec): appending the survivors' other input
            # columns would write mixed COLUMN-SET files into the cell
            # dirs — the same footer-dependent-schema corruption class
            # as the type mismatch, one level up.  And only MATCHABLE
            # rows: null/NaN/null-element vectors SURVIVE (nothing can
            # near-dup them) but are never indexed — they cannot match
            # a future probe, and a null encoder cell would otherwise
            # write a junk cell=__HIVE_DEFAULT_PARTITION__ dir the
            # literal probe filter can never prune against.
            ivfpq_encode(
                _align_to_index_schema(spark, index_path,
                                       out.filter(_matchable_vec(vec_col))
                                       .select(id_col, vec_col),
                                       [id_col, vec_col],
                                       id_cols=(id_col,)),
                meta["centroids"], meta["codebooks"],
                vec_col=vec_col, residual=meta["residual"],
                store_vectors=True,
            ).filter(F.col("cell").isNotNull()) \
                .write.mode("append").partitionBy("cell") \
                .parquet(index_path)
    return out
