"""Similarity search over an embedding column (array<float>).

Brute-force cosine top-k as the exact baseline; LSH-bucketed
(random-hyperplane signs with deterministic hyperplanes) as the scale
path. The dot products run as built-in higher-order functions
(zip_with + aggregate) — JVM-side, no Python in the hot loop.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


# NOTE: an unrolled fixed-dim `sum(element_at*element_at)` variant was
# measured 3x SLOWER than the zip_with fold at dim=64 (64-term
# expression trees fall out of whole-stage codegen) — keep the HOF.


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    vector table — one scan of the vectors, no shuffle of the big
    side; ranking via window over query_id.

    Scale shape: Q queries × N vectors with Q broadcastable; for
    Q ~ N use `lsh_topk`.
    """
    q = F.broadcast(queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec")))
    v = vectors.select(F.col(id_col), F.col(vec_col).alias("_vvec"))
    scored = q.crossJoin(v).select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(cosine(F.col("_qvec"), F.col("_vvec")), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random unit hyperplane (hash-based, no
    RNG state): component c = sin(1e4 * (plane_idx * dim + c + 1))."""
    raw = [math.sin(1e4 * (plane_idx * dim + c + 1)) for c in range(dim)]
    n = math.sqrt(sum(x * x for x in raw)) or 1.0
    return [x / n for x in raw]


def _const_json(value, schema: str) -> Column:
    """A large numeric constant (plane family, codebook) as ONE
    from_json literal that Catalyst constant-folds. Plan-build cost is
    O(1) py4j calls; per-component ``F.lit`` costs a JVM round-trip
    per number (measured ~10s of pure plan construction for a 96×64
    plane family built that way, and ``F.lit(list)`` is ~100ms per
    list)."""
    import json as _json

    return F.from_json(F.lit(_json.dumps(value)), schema)


def lsh_bucket(vec_col: Column, dim: int, n_planes: int = 8, plane_offset: int = 0) -> Column:
    """Random-hyperplane LSH bucket id: sign bits of dot products with
    n_planes fixed hyperplanes → int bucket. Cosine-similar vectors
    collide with high probability. ``plane_offset`` selects a disjoint
    plane family per band (multi-band amplification). The plane family
    is one constant-folded literal; the bucket folds over it, so the
    expression tree and plan-build cost are O(1) in planes×dim."""
    planes = _const_json(
        [_hyperplane(dim, plane_offset + p) for p in range(n_planes)], "array<array<double>>"
    )
    pows = _const_json([1 << p for p in range(n_planes)], "array<int>")
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(n_planes - 1)),
        F.lit(0),
        lambda acc, p: acc
        + F.when(
            dot(vec_col, F.element_at(planes, p + 1)) >= 0, F.element_at(pows, p + 1)
        ).otherwise(F.lit(0)),
    )


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    n_planes: int = 6,
) -> DataFrame:
    """Approximate top-k: equi-join on LSH bucket, then exact cosine +
    ranking within candidates. The cross product becomes a shuffle on
    the bucket key — the ANN scale path (IVF-style: bucket = cell)."""
    v = vectors.select(
        F.col(id_col), F.col(vec_col).alias("_vvec"), lsh_bucket(F.col(vec_col), dim, n_planes).alias("_bkt")
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        lsh_bucket(F.col(vec_col), dim, n_planes).alias("_bkt"),
    )
    scored = q.join(v, "_bkt").select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(cosine(F.col("_qvec"), F.col("_vvec")), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )


def banded_near_dup_pairs(
    vectors: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.5,
    n_bands: int = 4,
    planes_per_band: int = 8,
) -> DataFrame:
    """Near-duplicate pairs via multi-band random-hyperplane LSH —
    the 100 TB-safe plan (no cross join anywhere):

    1. one projection computes ``n_bands`` bucket ids per vector;
    2. explode to a narrow (id, band, bucket) table — only ~24 bytes
       per (vector, band) ever shuffles;
    3. equi-join on (band, bucket) with ``id_a < id_b`` → candidate
       pairs, de-duplicated across bands;
    4. survivors re-join the vector table for the exact-cosine verify.

    Buckets use the deterministic sin-based hyperplanes
    (``_hyperplane``), so an external engine (the DuckDB oracle) can
    replay the identical candidate set — the result is exact w.r.t.
    this plan, approximate w.r.t. all-pairs (standard LSH recall).
    Amplification: P(candidate) = 1-(1-s^P)^B for sign-agreement
    rate s; 4 bands x 8 planes keeps high-cosine recall while the
    per-band 8-bit bucket bounds bucket width (skew) at scale.
    """
    base = vectors.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"))
    # norm + per-band buckets are consumed by FOUR branches (two join
    # sides each for candidates and verify) — persist so the 64 plane
    # dots per vector run once; caller may release via the
    # unpersist_base() handle on the result
    base = base.withColumn("_n", norm(F.col("_vec"))).persist()
    bands = base.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        lsh_bucket(
                            F.col("_vec"), dim, planes_per_band, plane_offset=b * planes_per_band
                        ).alias("bkt"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("_bb"),
    ).select("_id", F.col("_bb.band").alias("_band"), F.col("_bb.bkt").alias("_bkt")).persist()
    a, c = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            c,
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._bkt") == F.col("b._bkt"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    va = base.select(F.col("_id").alias("id_a"), F.col("_vec").alias("_va"), F.col("_n").alias("_na"))
    vb = base.select(F.col("_id").alias("id_b"), F.col("_vec").alias("_vb"), F.col("_n").alias("_nb"))
    cos = dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    out = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .orderBy("id_a", "id_b")
    )
    out.unpersist_base = lambda: (base.unpersist(blocking=True), bands.unpersist(blocking=True))
    return out


def _plane_dot_sql(col: str, plane: list[float]) -> str:
    """DuckDB SQL for dot(col, literal plane), unrolled: one scalar
    term per component — avoids re-materializing a literal list per
    element (O(dim^2))."""
    terms = " + ".join(
        f"CAST(list_extract({col}, {i + 1}) AS DOUBLE) * {w!r}" for i, w in enumerate(plane)
    )
    return "(" + terms + ")"


def lsh_bucket_sql(col: str, dim: int, n_planes: int, plane_offset: int = 0) -> str:
    """DuckDB replay of :func:`lsh_bucket` — same sin-based
    hyperplanes, same sign-bit bucket id."""
    bits = [
        f"(CASE WHEN {_plane_dot_sql(col, _hyperplane(dim, plane_offset + p))} >= 0"
        f" THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes)
    ]
    return " + ".join(bits)


def lsh_topk_oracle_sql(
    dim: int,
    k: int = 5,
    n_planes: int = 6,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: str = "vec_id < 10",
) -> str:
    """DuckDB replay of :func:`lsh_topk`: identical buckets, exact
    cosine + ranking within candidates — turns the 'approximate' ANN
    path into an exactly-checkable query."""
    dot = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> CAST(list_extract({{a}}, i) AS DOUBLE) * CAST(list_extract({{b}}, i) AS DOUBLE)))"
    )
    return f"""
WITH bk AS (
  SELECT v.{id_col}, v.{vec_col}, {lsh_bucket_sql('v.' + vec_col, dim, n_planes)} AS _bkt
  FROM {table} v
),
q AS (SELECT {id_col} AS query_id, {vec_col} AS qe, _bkt FROM bk WHERE {query_pred}),
scored AS (
  SELECT q.query_id, v.{id_col} AS {id_col},
    round({dot.format(a='q.qe', b='v.' + vec_col)}
      / (sqrt({dot.format(a='q.qe', b='q.qe')})
         * sqrt({dot.format(a='v.' + vec_col, b='v.' + vec_col)})), 6) AS cosine
  FROM q JOIN bk v ON q._bkt = v._bkt
),
ranked AS (
  SELECT query_id, {id_col}, cosine,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, {id_col}) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, {id_col}, cosine, rank FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank
"""


def banded_near_dup_oracle_sql(
    dim: int,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.5,
    n_bands: int = 4,
    planes_per_band: int = 8,
) -> str:
    """DuckDB replay of :func:`banded_near_dup_pairs`: same sin-based
    hyperplanes inlined as literal lists, same sign-bit buckets, same
    candidate join + exact-cosine verify. Generated, not hand-kept, so
    plane constants can never drift from the Spark side."""

    band_exprs = [
        f"({lsh_bucket_sql('v.' + vec_col, dim, planes_per_band, b * planes_per_band)}) AS b{b}"
        for b in range(n_bands)
    ]
    self_dot = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> CAST(list_extract({vec_col}, i) AS DOUBLE)"
        f" * CAST(list_extract({vec_col}, i) AS DOUBLE)))"
    )
    pair_dot = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> CAST(list_extract(na._v, i) AS DOUBLE) * CAST(list_extract(nb._v, i) AS DOUBLE)))"
    )
    band_eq = " OR ".join(f"a.b{b} = c.b{b}" for b in range(n_bands))
    return f"""
WITH bk AS (
  SELECT v.{id_col} AS _id, {', '.join(band_exprs)} FROM {table} v
),
n AS (
  SELECT {id_col} AS _id, {vec_col} AS _v, sqrt({self_dot}) AS _n FROM {table}
),
cand AS (
  SELECT DISTINCT a._id AS id_a, c._id AS id_b
  FROM bk a JOIN bk c ON a._id < c._id AND ({band_eq})
)
SELECT cand.id_a, cand.id_b,
  round({pair_dot} / (na._n * nb._n), 6) AS cosine
FROM cand
JOIN n na ON na._id = cand.id_a
JOIN n nb ON nb._id = cand.id_b
WHERE round({pair_dot} / (na._n * nb._n), 6) >= {threshold}
ORDER BY id_a, id_b
"""


def ivf_centroids(vectors: DataFrame, id_col: str, vec_col: str, n_centroids: int) -> list:
    """Deterministic IVF codebook: the ``n_centroids`` vectors whose
    md5(id) sorts first — a uniform deterministic sample of the
    corpus standing in for trained k-means centroids (training is an
    offline build step; any fixed codebook gives the same IVF plan
    shape). Collected to the driver: the codebook is small by design
    (like broadcasting a dimension table)."""
    rows = (
        vectors.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_vec"),
            F.md5(F.col(id_col).cast("string").cast("binary")).alias("_h"),
        )
        .orderBy("_h", "_id")
        .limit(n_centroids)
        .collect()
    )
    return [list(r._vec) for r in rows]


def _nearest_cells(vec_col: Column, cents: list, n_probe: int) -> Column:
    """Array of the n_probe nearest centroid ids (cosine desc, cid asc
    tiebreak) — computed as a sort of (cos, -cid) structs; every
    centroid dot is evaluated exactly once (array literal, no
    CASE-branch duplication)."""
    import math as _m

    codebook = _const_json([[float(x) for x in c] for c in cents], "array<array<double>>")
    norms_c = _const_json(
        [_m.sqrt(sum(x * x for x in c)) or 1.0 for c in cents], "array<double>"
    )
    # one transform over the constant-folded codebook: each centroid
    # dot evaluates exactly once and the expression tree is O(1) in
    # codebook size (measured: ~10s plan build for the unrolled
    # per-centroid form -> 0.2s). Ranking by dot/|c| equals the cosine
    # order — the row vector's own norm is constant across centroids.
    entries = F.transform(
        F.sequence(F.lit(0), F.lit(len(cents) - 1)),
        lambda i: F.struct(
            (dot(vec_col, F.element_at(codebook, i + 1)) / F.element_at(norms_c, i + 1)).alias("s"),
            (-i).alias("r"),
            i.alias("c"),
        ),
    )
    ranked = F.reverse(F.array_sort(entries))
    return F.transform(F.slice(ranked, 1, n_probe), lambda e: e["c"])


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    n_centroids: int = 64,
    n_probe: int = 8,
) -> DataFrame:
    """IVF-flat ANN: assign every vector to its nearest centroid cell
    (one projection over the scan — the inverted file), probe each
    query's ``n_probe`` nearest cells, exact-cosine rank within the
    probed cells. The scale shape: the cross product becomes an
    equi-join on cell id; recall tunes with n_probe. Deterministic
    codebook (see ivf_centroids) makes the whole query replayable by
    the DuckDB oracle."""
    cents = ivf_centroids(vectors, id_col, vec_col, n_centroids)
    v = vectors.select(
        F.col(id_col),
        F.col(vec_col).alias("_vvec"),
        _nearest_cells(F.col(vec_col), cents, 1)[0].alias("_cell"),
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        F.explode(_nearest_cells(F.col(vec_col), cents, n_probe)).alias("_cell"),
    )
    scored = q.join(v, "_cell").select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(cosine(F.col("_qvec"), F.col("_vvec")), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )


def ivf_topk_oracle_sql(
    dim: int,
    k: int = 5,
    n_centroids: int = 64,
    n_probe: int = 8,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: str = "vec_id < 10",
) -> str:
    """DuckDB replay of :func:`ivf_topk`: same md5-ordered codebook,
    same (cosine desc, cid asc) assignment and probing, relationally
    (the oracle may cross-join vectors × centroids — it only needs to
    be correct, not fast)."""
    dot_sql = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> CAST(list_extract({{a}}, i) AS DOUBLE) * CAST(list_extract({{b}}, i) AS DOUBLE)))"
    )
    # same scaled-dot ordering as _nearest_cells (dot / |centroid|)
    cos = (
        dot_sql.format(a="x.{v}", b="c.cvec")
        + f" / sqrt({dot_sql.format(a='c.cvec', b='c.cvec')})"
    ).replace("{v}", vec_col)
    pair_dot = dot_sql.format(a="q._qv", b="v._vv")
    return f"""
WITH cents AS (
  SELECT row_number() OVER (ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col}) - 1 AS cid,
         {vec_col} AS cvec
  FROM {table} ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col} LIMIT {n_centroids}
),
vassign AS (
  SELECT {id_col}, _vv, cid AS _cell FROM (
    SELECT x.{id_col}, x.{vec_col} AS _vv, c.cid,
      row_number() OVER (PARTITION BY x.{id_col} ORDER BY {cos} DESC, c.cid) AS rn
    FROM {table} x, cents c
  ) WHERE rn = 1
),
qprobe AS (
  SELECT {id_col} AS query_id, _qv, cid AS _cell FROM (
    SELECT x.{id_col}, x.{vec_col} AS _qv, c.cid,
      row_number() OVER (PARTITION BY x.{id_col} ORDER BY {cos} DESC, c.cid) AS rn
    FROM {table} x, cents c
    WHERE x.{query_pred.replace(id_col, id_col)}
  ) WHERE rn <= {n_probe}
),
scored AS (
  SELECT q.query_id, v.{id_col},
    round({pair_dot} / (sqrt({dot_sql.format(a='q._qv', b='q._qv')})
         * sqrt({dot_sql.format(a='v._vv', b='v._vv')})), 6) AS cosine
  FROM qprobe q JOIN vassign v ON q._cell = v._cell
),
ranked AS (
  SELECT query_id, {id_col}, cosine,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, {id_col}) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, {id_col}, cosine, rank FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank
"""


def semantic_dedup(
    vectors: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 64,
    tau: float = 0.8,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): assign every embedding to its nearest codebook
    cell, compare pairs only *within* a cell, and drop the larger-id
    member of every pair with cosine >= ``tau`` — keeping one
    representative per semantic near-duplicate set.

    Scale shape: the quadratic comparison is confined to a cell (the
    paper's per-cluster pairwise step); globally the plan is one
    projection for cell assignment plus an equi-join on the cell id —
    no cross join. Cell population is bounded by the codebook
    granularity (``n_centroids`` scales with corpus size; a trained
    k-means codebook keeps cells balanced — the deterministic
    md5-sample codebook here stands in for it, see
    :func:`ivf_centroids`).

    Output: one row per input vector — ``(id_col, cell, is_kept)``,
    ``is_kept = false`` iff some same-cell vector with a smaller id is
    cosine-similar at >= ``tau``.
    """
    cents = ivf_centroids(vectors, id_col, vec_col, n_centroids)
    v = vectors.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        _nearest_cells(F.col(vec_col), cents, 1)[0].alias("_cell"),
    ).persist()
    a, b = v.alias("a"), v.alias("b")
    dropped = (
        a.join(b, (F.col("a._cell") == F.col("b._cell")) & (F.col("a._id") < F.col("b._id")))
        .filter(F.round(cosine(F.col("a._vec"), F.col("b._vec")), 6) >= tau)
        .select(F.col("b._id").alias("_id"))
        .distinct()
        .withColumn("_dropped", F.lit(1))
    )
    out = (
        v.join(dropped, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.col("_cell").cast("long").alias("cell"),
            F.col("_dropped").isNull().alias("is_kept"),
        )
        .orderBy(id_col)
    )
    out.unpersist_base = lambda: v.unpersist(blocking=True)
    return out


def semantic_dedup_oracle_sql(
    dim: int,
    n_centroids: int = 64,
    tau: float = 0.8,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB replay of :func:`semantic_dedup` — identical md5-ordered
    codebook, identical (scaled-dot desc, cid asc) cell assignment,
    identical rounded-cosine pair predicate."""
    dot_sql = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> CAST(list_extract({{a}}, i) AS DOUBLE) * CAST(list_extract({{b}}, i) AS DOUBLE)))"
    )
    cos = (
        dot_sql.format(a=f"x.{vec_col}", b="c.cvec")
        + f" / sqrt({dot_sql.format(a='c.cvec', b='c.cvec')})"
    )
    pair_cos = (
        f"{dot_sql.format(a='a._vv', b='b._vv')} / (sqrt({dot_sql.format(a='a._vv', b='a._vv')})"
        f" * sqrt({dot_sql.format(a='b._vv', b='b._vv')}))"
    )
    return f"""
WITH cents AS (
  SELECT row_number() OVER (ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col}) - 1 AS cid,
         {vec_col} AS cvec
  FROM {table} ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col} LIMIT {n_centroids}
),
vassign AS (
  SELECT {id_col}, _vv, cid AS _cell FROM (
    SELECT x.{id_col}, x.{vec_col} AS _vv, c.cid,
      row_number() OVER (PARTITION BY x.{id_col} ORDER BY {cos} DESC, c.cid) AS rn
    FROM {table} x, cents c
  ) WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT b.{id_col}
  FROM vassign a JOIN vassign b
    ON a._cell = b._cell AND a.{id_col} < b.{id_col}
  WHERE round({pair_cos}, 6) >= {tau}
)
SELECT v.{id_col}, CAST(v._cell AS BIGINT) AS cell,
       (d.{id_col} IS NULL) AS is_kept
FROM vassign v LEFT JOIN dropped d USING ({id_col})
ORDER BY v.{id_col}
"""


# --------------------------------------------------------------------------
# IVF-PQ: product-quantized ADC ranking inside probed IVF cells
# --------------------------------------------------------------------------


def _l2sq(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, x: acc + x
    )


def pq_codes(vec_col: Column, cents: list, dim: int, m_sub: int, k_codes: int) -> Column:
    """PQ encoding: split the vector into ``m_sub`` subspaces and map
    each subvector to the index of its nearest (squared-L2) entry in
    that subspace's codebook. Codebooks are the subspace slices of the
    deterministic md5-ordered corpus sample (``ivf_centroids`` prefix),
    so the oracle can re-derive them relationally. The whole encode is
    one constant-folded nested transform — JVM-side, O(1) expression
    tree in (m_sub x k_codes)."""
    dsub = dim // m_sub
    # [m][j][dsub] sub-codebooks from the first k_codes sample vectors
    cb = _const_json(
        [
            [[float(x) for x in c[m * dsub : (m + 1) * dsub]] for c in cents[:k_codes]]
            for m in range(m_sub)
        ],
        "array<array<array<double>>>",
    )
    return F.transform(
        F.sequence(F.lit(0), F.lit(m_sub - 1)),
        lambda m: F.array_sort(
            F.transform(
                F.sequence(F.lit(0), F.lit(k_codes - 1)),
                lambda j: F.struct(
                    _l2sq(
                        F.slice(vec_col, m * dsub + 1, dsub),
                        F.element_at(F.element_at(cb, m + 1), j + 1),
                    ).alias("d"),
                    j.alias("j"),
                ),
            )
        )[0]["j"],
    )


def pq_adc_dot(qvec: Column, codes: Column, cents: list, dim: int, m_sub: int, k_codes: int) -> Column:
    """Asymmetric-distance (ADC) inner product: the query stays exact,
    the database vector is its PQ reconstruction — sum over subspaces
    of dot(query subvector, coded sub-centroid). At scale the scan
    side carries only the m_sub small ints (32x narrower than the raw
    vector at dim=64/m_sub=8), which is the whole point of PQ."""
    dsub = dim // m_sub
    cb = _const_json(
        [
            [[float(x) for x in c[m * dsub : (m + 1) * dsub]] for c in cents[:k_codes]]
            for m in range(m_sub)
        ],
        "array<array<array<double>>>",
    )
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(m_sub - 1)),
        F.lit(0.0),
        lambda acc, m: acc
        + dot(
            F.slice(qvec, m * dsub + 1, dsub),
            F.element_at(F.element_at(cb, m + 1), F.element_at(codes, m + 1) + 1),
        ),
    )


def pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    n_centroids: int = 64,
    n_probe: int = 8,
    m_sub: int = 8,
    k_codes: int = 16,
    rerank: int = 32,
) -> DataFrame:
    """IVF-PQ ANN top-k (Jegou et al. 2011 shape, with re-rank):
    vectors live in IVF cells carrying only their PQ codes; queries
    probe ``n_probe`` cells, shortlist ``rerank`` candidates by the
    ADC approximate inner product (no exact vector crosses the
    candidate join), then fetch ONLY the shortlist's raw vectors for
    an exact-cosine final rank. Scale shape: the cell equi-join ships
    m_sub small ints per vector (~32x narrower than the embedding at
    dim=64/m_sub=8); the exact re-rank join touches rerank x |Q| rows
    regardless of corpus size. Recall tunes with (n_probe, m_sub,
    rerank). Fully deterministic (md5-sampled cells + sub-codebooks),
    replayed exactly by the DuckDB oracle."""
    cents = ivf_centroids(vectors, id_col, vec_col, n_centroids)
    v = vectors.select(
        F.col(id_col),
        _nearest_cells(F.col(vec_col), cents, 1)[0].alias("_cell"),
        pq_codes(F.col(vec_col), cents, dim, m_sub, k_codes).alias("_codes"),
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        F.explode(_nearest_cells(F.col(vec_col), cents, n_probe)).alias("_cell"),
    )
    scored = q.join(v, "_cell").select(
        F.col(query_id_col),
        F.col(id_col),
        F.col("_qvec"),
        F.round(
            pq_adc_dot(F.col("_qvec"), F.col("_codes"), cents, dim, m_sub, k_codes), 6
        ).alias("adc_dot"),
    )
    w_adc = Window.partitionBy(query_id_col).orderBy(F.desc("adc_dot"), F.asc(id_col))
    shortlist = scored.withColumn("_adc_rank", F.row_number().over(w_adc)).filter(
        F.col("_adc_rank") <= rerank
    )
    raw = vectors.select(F.col(id_col), F.col(vec_col).alias("_vvec"))
    reranked = shortlist.join(raw, id_col).select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(cosine(F.col("_qvec"), F.col("_vvec")), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        reranked.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )


def pq_topk_oracle_sql(
    dim: int,
    k: int = 5,
    n_centroids: int = 64,
    n_probe: int = 8,
    m_sub: int = 8,
    k_codes: int = 16,
    rerank: int = 32,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: str = "vec_id < 10",
) -> str:
    """DuckDB replay of :func:`pq_topk`: cells and PQ sub-codebooks
    re-derived from the same md5-ordered sample; encoding is the same
    (squared-L2, code-index tiebreak) argmin; ADC contributions sum
    per (query, vector). Cross joins are fine here — oracle is
    correctness-only."""
    dsub = dim // m_sub
    dot_sql = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> CAST(list_extract({{a}}, i) AS DOUBLE) * CAST(list_extract({{b}}, i) AS DOUBLE)))"
    )
    cos = (
        dot_sql.format(a=f"x.{vec_col}", b="c.cvec")
        + f" / sqrt({dot_sql.format(a='c.cvec', b='c.cvec')})"
    )
    # squared-L2 between subvectors m of x.{vec_col} and p.pvec
    l2 = (
        f"list_sum(list_transform(range(1, {dsub + 1}), i -> "
        f"pow(CAST(list_extract(x.{vec_col}, m.m * {dsub} + i) AS DOUBLE)"
        f" - CAST(list_extract(p.pvec, m.m * {dsub} + i) AS DOUBLE), 2)))"
    )
    # full ADC dot as ONE ordered left-to-right list_sum (m = 0..m_sub-1,
    # matching Spark's F.aggregate fold order — a SQL sum() over
    # per-subspace rows would add in arbitrary order and can flip the
    # 6-digit rounding via float non-associativity)
    adc = (
        f"list_sum(list_transform(range(0, {m_sub}), m -> "
        f"list_sum(list_transform(range(1, {dsub + 1}), i -> "
        f"CAST(list_extract(q._qv, m * {dsub} + i) AS DOUBLE)"
        f" * CAST(list_extract(list_extract(pl.pl, list_extract(cl.codes, m + 1) + 1),"
        f" m * {dsub} + i) AS DOUBLE)))))"
    )
    pair_cos = (
        dot_sql.format(a="s._qv", b=f"r.{vec_col}")
        + f" / (sqrt({dot_sql.format(a='s._qv', b='s._qv')})"
        + f" * sqrt({dot_sql.format(a=f'r.{vec_col}', b=f'r.{vec_col}')}))"
    )
    return f"""
WITH cents AS (
  SELECT row_number() OVER (ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col}) - 1 AS cid,
         {vec_col} AS cvec
  FROM {table} ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col} LIMIT {n_centroids}
),
pq AS (
  SELECT row_number() OVER (ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col}) - 1 AS pj,
         {vec_col} AS pvec
  FROM {table} ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col} LIMIT {k_codes}
),
subs AS (SELECT unnest(range(0, {m_sub})) AS m),
vassign AS (
  SELECT {id_col}, cid AS _cell FROM (
    SELECT x.{id_col}, c.cid,
      row_number() OVER (PARTITION BY x.{id_col} ORDER BY {cos} DESC, c.cid) AS rn
    FROM {table} x, cents c
  ) WHERE rn = 1
),
codes AS (
  SELECT {id_col}, m, pj AS code FROM (
    SELECT x.{id_col}, m.m, p.pj,
      row_number() OVER (PARTITION BY x.{id_col}, m.m ORDER BY {l2}, p.pj) AS rn
    FROM {table} x, subs m, pq p
  ) WHERE rn = 1
),
qprobe AS (
  SELECT {id_col} AS query_id, _qv, cid AS _cell FROM (
    SELECT x.{id_col}, x.{vec_col} AS _qv, c.cid,
      row_number() OVER (PARTITION BY x.{id_col} ORDER BY {cos} DESC, c.cid) AS rn
    FROM {table} x, cents c
    WHERE x.{query_pred}
  ) WHERE rn <= {n_probe}
),
codes_l AS (
  SELECT {id_col}, list(code ORDER BY m) AS codes FROM codes GROUP BY 1
),
pq_l AS (
  SELECT list(pvec ORDER BY pj) AS pl FROM pq
),
scored AS (
  SELECT q.query_id, v.{id_col}, q._qv, round({adc}, 6) AS adc_dot
  FROM qprobe q
  JOIN vassign v ON q._cell = v._cell
  JOIN codes_l cl ON cl.{id_col} = v.{id_col}
  CROSS JOIN pq_l pl
),
shortlist AS (
  SELECT query_id, {id_col}, _qv FROM (
    SELECT query_id, {id_col}, _qv,
      row_number() OVER (PARTITION BY query_id ORDER BY adc_dot DESC, {id_col}) AS adc_rank
    FROM scored
  ) WHERE adc_rank <= {rerank}
),
reranked AS (
  SELECT s.query_id, s.{id_col},
    round({pair_cos}, 6) AS cosine
  FROM shortlist s JOIN {table} r ON s.{id_col} = r.{id_col}
),
ranked AS (
  SELECT query_id, {id_col}, cosine,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, {id_col}) AS BIGINT) AS rank
  FROM reranked
)
SELECT query_id, {id_col}, cosine, rank FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank
"""


# --------------------------------------------------------------------------
# K-means (Lloyd) document clustering over embeddings
# --------------------------------------------------------------------------


def _quantize(vec_col: Column) -> Column:
    """Micro-unit quantization: each component -> round(x * 1e6) as a
    long. All downstream sums are INTEGER sums, so centroid updates
    are bit-identical across engines, partitionings, and runs — the
    float-mean order-dependence that normally makes distributed
    k-means non-replayable disappears at the cost of a 1e-6 input
    resolution (far below embedding noise)."""
    return F.transform(vec_col, lambda x: F.round(x * 1e6, 0).cast("long"))


def _assign_cells_l2(qvec: Column, cents_micro: list) -> Column:
    """argmin_j squared-L2(qvec, centroid_j) with smallest-j tiebreak;
    centroids ride as one constant-folded literal."""
    cb = _const_json([[float(x) for x in c] for c in cents_micro], "array<array<double>>")
    entries = F.transform(
        F.sequence(F.lit(0), F.lit(len(cents_micro) - 1)),
        lambda j: F.struct(
            _l2sq(F.transform(qvec, lambda x: x.cast("double")), F.element_at(cb, j + 1)).alias("d"),
            j.alias("j"),
        ),
    )
    return F.array_sort(entries)[0]["j"]


def kmeans_clusters(
    vectors: DataFrame,
    dim: int,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd k-means over the embedding column: md5-sampled seeds
    (ivf_centroids prefix), then ``iterations`` rounds of
    assign-to-nearest / recompute-mean. The clustering layer under
    SemDeDup-style curation, cluster-balanced sampling, and topic
    mixture reporting.

    Scale shape per round: ONE hash aggregate to k rows — per-cell
    count plus ``dim`` per-component integer sums as aggregate
    expressions (map-side partial combine collapses everything before
    the exchange; no explode, no (row x dim) shuffle). The k-row
    centroid table collects to the driver (dimension-table class,
    like the IVF codebook) and re-enters as a constant-folded literal,
    so each round is one scan + one tiny exchange. Driver-coordinated
    rounds, same as dedup_groups.

    Output: (id, cell, dist2) with dist2 the squared L2 distance to
    the final centroid in original units, rounded to 6. Deterministic
    end-to-end: integer moment sums make every centroid exact, so the
    DuckDB oracle replays all rounds bit-identically."""
    cents0 = ivf_centroids(vectors, id_col, vec_col, k)
    cents = [[float(round(x * 1e6)) for x in c] for c in cents0]
    base = vectors.select(F.col(id_col), _quantize(F.col(vec_col)).alias("_qv"))
    for _ in range(iterations):
        assigned = base.withColumn("_cell", _assign_cells_l2(F.col("_qv"), cents))
        sums = assigned.groupBy("_cell").agg(
            F.count(F.lit(1)).alias("_n"),
            *[
                F.sum(F.element_at(F.col("_qv"), i + 1)).alias(f"_s{i}")
                for i in range(dim)
            ],
        )
        rows = sums.collect()
        new_cents = list(cents)
        for r in rows:
            new_cents[r["_cell"]] = [r[f"_s{i}"] / r["_n"] for i in range(dim)]
        cents = new_cents
    out = base.withColumn("_cell", _assign_cells_l2(F.col("_qv"), cents))
    cb = _const_json([[float(x) for x in c] for c in cents], "array<array<double>>")
    dist2 = _l2sq(
        F.transform(F.col("_qv"), lambda x: x.cast("double")),
        F.element_at(cb, F.col("_cell") + 1),
    )
    return out.select(
        F.col(id_col),
        F.col("_cell").cast("int").alias("cell"),
        F.round(dist2 / 1e12, 6).alias("dist2"),
    ).orderBy(id_col)


def kmeans_clusters_oracle_sql(
    dim: int,
    k: int = 8,
    iterations: int = 2,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB replay of :func:`kmeans_clusters`: the seed sample, the
    quantization, and each Lloyd round unroll into CTEs (assignment =
    argmin row_number; centroid update = per-component integer-sum
    mean via a positions cross join). Iterations are unrolled — the
    oracle is correctness-only."""
    l2 = (
        f"list_sum(list_transform(range(1, {dim + 1}), i -> "
        f"pow(CAST(list_extract(v.qv, i) AS DOUBLE) - c.cent[i], 2)))"
    )
    sql = f"""
WITH base AS (
  SELECT {id_col}, list_transform({vec_col},
           x -> CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT)) AS qv
  FROM {table}
),
seed AS (
  SELECT row_number() OVER (ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col}) - 1 AS cid,
         list_transform({vec_col},
           x -> CAST(CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT) AS DOUBLE)) AS cent
  FROM {table} ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col} LIMIT {k}
),
c0 AS (SELECT cid, cent FROM seed)"""
    prev = "c0"
    for it in range(1, iterations + 1):
        sql += f""",
a{it} AS (
  SELECT {id_col}, qv, cid AS cell FROM (
    SELECT v.{id_col}, v.qv, c.cid,
      row_number() OVER (PARTITION BY v.{id_col} ORDER BY {l2}, c.cid) AS rn
    FROM base v, {prev} c
  ) WHERE rn = 1
),
m{it} AS (
  SELECT cell AS cid, p.i,
         CAST(sum(list_extract(qv, p.i)) AS DOUBLE) / count(*) AS comp
  FROM a{it}, (SELECT unnest(range(1, {dim + 1})) AS i) p
  GROUP BY 1, 2
),
u{it} AS (
  SELECT cid, list(comp ORDER BY i) AS cent FROM m{it} GROUP BY 1
),
c{it} AS (
  SELECT c.cid, coalesce(u.cent, c.cent) AS cent
  FROM {prev} c LEFT JOIN u{it} u USING (cid)
)"""
        prev = f"c{it}"
    sql += f""",
final AS (
  SELECT {id_col}, cell, qv FROM (
    SELECT v.{id_col}, v.qv, c.cid AS cell,
      row_number() OVER (PARTITION BY v.{id_col} ORDER BY {l2}, c.cid) AS rn
    FROM base v, {prev} c
  ) WHERE rn = 1
)
SELECT f.{id_col}, CAST(f.cell AS INT) AS cell,
  round(list_sum(list_transform(range(1, {dim + 1}), i ->
    pow(CAST(list_extract(f.qv, i) AS DOUBLE) - c.cent[i], 2))) / 1e12, 6) AS dist2
FROM final f JOIN {prev} c ON f.cell = c.cid
ORDER BY f.{id_col}
"""
    return sql


def fuzzy_match_pairs(
    docs: DataFrame,
    threshold: int = 60,
    block_len: int = 16,
    max_len_diff: int = 60,
    id_col: str = "doc_id",
    text_col: str = "text",
    len_col: str = "n_chars",
) -> DataFrame:
    """Edit-distance near-duplicate pairs via prefix-blocked
    levenshtein — the typo/near-edit family MinHash token sets miss
    (MinHash sees "teh cat sat" vs "the cat sat" as disjoint
    unigrams; edit distance sees 2 transposed chars).

    Candidate generation is a BLOCKED self-equi-join: same first
    ``block_len`` characters AND length difference <= ``max_len_diff``
    (a true edit-distance lower bound: lev >= |len(a)-len(b)|, so the
    length gate never drops a real pair; the prefix block is the
    declared recall contract, standard edit-similarity blocking).
    Verification runs Spark's built-in ``levenshtein(l, r, threshold)``
    — JVM codegen with early-exit at ``threshold``, so cost per pair
    is O(len * threshold), not O(len^2).

    Plan at 100 TB: NEVER a cross join — the block key is an
    equi-join key that shuffles both sides on the same hash
    partitioning; fan-out is quadratic only within a block (bounded
    by block selectivity, tunable via ``block_len``). Integer
    distances: hash-exact oracle replay.
    """
    a = docs.select(
        F.col(id_col).alias("doc_a"),
        F.col(text_col).alias("_ta"),
        F.col(len_col).alias("_la"),
        F.substring(F.col(text_col), 1, block_len).alias("_blk"),
    )
    b = docs.select(
        F.col(id_col).alias("doc_b"),
        F.col(text_col).alias("_tb"),
        F.col(len_col).alias("_lb"),
        F.substring(F.col(text_col), 1, block_len).alias("_blk"),
    )
    dist = F.levenshtein(F.col("_ta"), F.col("_tb"), threshold)
    return (
        a.join(b, on="_blk", how="inner")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.abs(F.col("_la") - F.col("_lb")) <= max_len_diff)
        )
        .select(
            "doc_a",
            "doc_b",
            dist.alias("dist"),
            F.col("_la").cast("long").alias("len_a"),
            F.col("_lb").cast("long").alias("len_b"),
        )
        .filter((F.col("dist") >= 0) & (F.col("dist") <= threshold))
        .withColumn("dist", F.col("dist").cast("long"))
    )


def fuzzy_match_oracle_sql(
    table: str,
    threshold: int = 60,
    block_len: int = 16,
    max_len_diff: int = 60,
) -> str:
    """DuckDB oracle for :func:`fuzzy_match_pairs` (plain levenshtein
    — no early-exit arg — then the same <= threshold filter)."""
    return f"""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist,
  CAST(a.n_chars AS BIGINT) AS len_a,
  CAST(b.n_chars AS BIGINT) AS len_b
FROM {table} a JOIN {table} b
  ON substr(a.text, 1, {block_len}) = substr(b.text, 1, {block_len})
 AND a.doc_id < b.doc_id
 AND abs(a.n_chars - b.n_chars) <= {max_len_diff}
WHERE levenshtein(a.text, b.text) <= {threshold}
"""


def retrieval_eval(
    truth: DataFrame,
    cand: DataFrame,
    k: int,
    query_col: str = "query_id",
    id_col: str = "vec_id",
    rank_col: str = "rank",
) -> DataFrame:
    """ANN quality evaluation: per query, recall@k and reciprocal
    rank of an approximate top-k frame against the exact one — the
    harness that justifies shipping an LSH/IVF/PQ index instead of
    the brute-force scan (FAISS-style recall curves, in-engine).

    Both inputs are (query, id, rank) frames of <= k rows per query
    (the existing topk operators' shape), so the whole evaluation is
    one equi-join of two query-cardinality-bounded frames + one hash
    aggregate — nothing corpus-scale. recall@k is one int/int double
    division; rr = 1/min(rank of a true-positive candidate), 0 when
    the candidate list misses everything (floats rounded to 6, the
    hashed-float convention).

    A query present in ``truth`` but absent from ``cand`` (empty LSH
    bucket) still reports a row — recall 0, rr 0 — via the left join
    from the truth side's query list.
    """
    qs = truth.select(query_col).distinct()
    hits = cand.join(
        truth.select(query_col, id_col).withColumn("_hit", F.lit(1)),
        [query_col, id_col],
        "left",
    )
    per_q = hits.groupBy(query_col).agg(
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("_nh"),
        F.min(F.when(F.col("_hit") == 1, F.col(rank_col))).alias("_fr"),
    )
    return (
        qs.join(per_q, query_col, "left")
        .select(
            query_col,
            F.coalesce(F.col("_nh"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce(F.col("_nh"), F.lit(0)).cast("double") / F.lit(float(k)), 6
            ).alias("recall_at_k"),
            F.round(
                F.coalesce(F.lit(1.0) / F.col("_fr"), F.lit(0.0)), 6
            ).alias("rr"),
        )
        .orderBy(query_col)
    )


def mmr_rerank(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_candidates: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998): greedy diversified top-k — each round selects the
    candidate maximizing ``lam * rel - (1 - lam) * max_sim_to_already_
    selected``, so near-duplicate hits stop crowding out coverage.
    The standard diversity stage between an ANN index and a training-
    data / RAG consumer.

    Shapes, at 100 TB: candidate generation is :func:`brute_force_
    topk` (swap in lsh/ivf/pq for scale — any (query, id, rank)
    frame of <= n_candidates rows per query works); candidates join
    their embeddings back by id (equi-join), collapse to ONE row per
    query (bounded arrays — the top-k boundedness class), and the
    O(n_candidates² · dim) pairwise-similarity matrix plus the
    O(k · n_candidates · k) greedy fold run per row as pure-JVM
    higher-order functions. Nothing corpus-scale shuffles; per-query
    cost is a constant set by (n_candidates, k, dim).

    Engine-exactness: relevances and pairwise similarities are the
    6-rounded cosines the top-k family already replays hash-exact;
    the greedy score is ONE fixed parenthesization over them, ties
    broken by candidate rank (desc relevance, asc id) — fully
    deterministic, so the DuckDB replay selects the identical set in
    the identical order.
    """
    if k < 1 or n_candidates < 1:
        raise ValueError("mmr_rerank: k and n_candidates must be >= 1")
    cands = brute_force_topk(
        vectors, queries, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, k=n_candidates,
    )
    ce = cands.join(
        vectors.select(F.col(id_col), F.col(vec_col).alias("_ce")), id_col
    )
    g = ce.groupBy(query_id_col).agg(
        F.sort_array(
            F.collect_list(F.struct("rank", F.col(id_col).alias("_id"), "cosine", "_ce"))
        ).alias("_c")
    )
    ids = F.transform(F.col("_c"), lambda c: c["_id"])
    rels = F.transform(F.col("_c"), lambda c: c["cosine"])
    embs = F.transform(F.col("_c"), lambda c: c["_ce"])
    n = F.size(F.col("_c"))
    sim = F.transform(
        embs,
        lambda e1: F.transform(embs, lambda e2: F.round(cosine(e1, e2), 6)),
    )
    staged = g.select(
        query_id_col,
        ids.alias("_ids"),
        rels.alias("_rels"),
        sim.alias("_S"),
        n.alias("_n"),
    ).filter(F.col("_n") >= 1)

    idsc, relsc, Sc, nc = (
        F.col("_ids"), F.col("_rels"), F.col("_S"), F.col("_n")
    )
    lam_c, one_m = F.lit(float(lam)), F.lit(1.0 - float(lam))

    def _score(acc: Column, i: Column) -> Column:
        # lam * rel_i - (1-lam) * max_{j in acc} S[i][j]; 0 max when
        # nothing is selected yet (round 1 == pure relevance order)
        return lam_c * F.element_at(relsc, i) - one_m * F.coalesce(
            F.array_max(
                F.transform(acc, lambda j: F.element_at(F.element_at(Sc, i), j))
            ),
            F.lit(0.0),
        )

    def _step(acc: Column, _r: Column) -> Column:
        scores = F.transform(
            F.sequence(F.lit(1), nc),
            lambda i: F.when(~F.array_contains(acc, i), _score(acc, i)),
        )
        best = F.array_max(F.filter(scores, lambda s: s.isNotNull()))
        chosen = F.array_min(
            F.filter(
                F.sequence(F.lit(1), nc),
                lambda i: ~F.array_contains(acc, i) & (_score(acc, i) == best),
            )
        )
        return F.concat(acc, F.array(chosen))

    k_eff = F.least(F.lit(k), nc)
    sel = F.aggregate(
        F.sequence(F.lit(1), k_eff),
        F.array().cast("array<int>"),
        _step,
    )
    # re-derive each round's marginal score from the selection prefix
    out_rows = F.transform(
        F.sequence(F.lit(1), F.size(sel)),
        lambda r: F.struct(
            r.cast("long").alias("mmr_rank"),
            F.element_at(idsc, F.element_at(sel, r)).alias("_vid"),
            F.element_at(relsc, F.element_at(sel, r)).alias("relevance"),
            F.round(
                _score(F.slice(sel, 1, r - 1), F.element_at(sel, r)), 6
            ).alias("mmr_score"),
        ),
    )
    return (
        staged.select(query_id_col, F.explode(out_rows).alias("_o"))
        .select(
            query_id_col,
            F.col("_o.mmr_rank").alias("mmr_rank"),
            F.col("_o._vid").alias(id_col),
            F.col("_o.relevance").alias("relevance"),
            F.col("_o.mmr_score").alias("mmr_score"),
        )
        .orderBy(query_id_col, "mmr_rank")
    )


def mmr_oracle_sql(
    vectors_table: str,
    queries_sql: str,
    k: int = 5,
    n_candidates: int = 20,
    lam: float = 0.7,
) -> str:
    """DuckDB replay of :func:`mmr_rerank` over ``vectors_table``
    (columns vec_id, embedding) with ``queries_sql`` selecting
    (query_id, qe). Same rounded cosines, same greedy recurrence via
    ``list_reduce`` (seed-prepended accumulator, dummy round
    elements), same tie rule."""
    dot = (
        "list_sum(list_transform(range(1, len({a}) + 1),"
        " i -> CAST(list_extract({a}, i) AS DOUBLE) * CAST(list_extract({b}, i) AS DOUBLE)))"
    )
    cos = (
        f"round({dot.format(a='{a}', b='{b}')} / "
        f"(sqrt({dot.format(a='{a}', b='{a}')}) * sqrt({dot.format(a='{b}', b='{b}')})), 6)"
    )
    score = (
        "({lam} * rels[{i}] - {onem} * coalesce(list_max("
        "list_transform({acc}, j -> S[{i}][j])), 0.0))"
    ).format(lam=float(lam), onem=1.0 - float(lam), i="{i}", acc="{acc}")
    best = (
        "list_max(list_filter(list_transform(range(1, n + 1), "
        f"i -> CASE WHEN list_contains({{acc}}, i) THEN NULL ELSE {score.format(i='i', acc='{acc}')} END), "
        "s -> s IS NOT NULL))"
    )
    chosen = (
        "list_min(list_filter(range(1, n + 1), "
        f"i -> NOT list_contains({{acc}}, i) AND {score.format(i='i', acc='{acc}')} = {best}))"
    )
    step = f"list_append(acc, {chosen.format(acc='acc')})"
    return f"""
WITH v AS (SELECT vec_id, embedding FROM {vectors_table}),
q AS ({queries_sql}),
scored AS (
  SELECT q.query_id, v.vec_id, v.embedding AS ce,
    {cos.format(a='q.qe', b='v.embedding')} AS cosine
  FROM q, v
),
ranked AS (
  SELECT query_id, vec_id, ce, cosine,
    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
),
cands AS (SELECT * FROM ranked WHERE rank <= {int(n_candidates)}),
g AS (
  SELECT query_id,
    list(vec_id ORDER BY rank) AS ids,
    list(cosine ORDER BY rank) AS rels,
    list(ce ORDER BY rank) AS embs,
    count(*) AS n
  FROM cands GROUP BY query_id
),
mat AS (
  SELECT query_id, ids, rels, n,
    list_transform(embs, e1 -> list_transform(embs, e2 ->
      {cos.format(a='e1', b='e2')})) AS S
  FROM g
),
greedy AS (
  SELECT query_id, ids, rels, n, S,
    list_reduce(
      list_prepend(CAST([] AS INT[]),
        list_transform(range(1, least({int(k)}, n) + 1), r -> CAST([] AS INT[]))),
      (acc, el) -> {step}) AS sel
  FROM mat
),
rows_out AS (
  SELECT query_id,
    unnest(list_transform(range(1, len(sel) + 1), r -> struct_pack(
      mmr_rank := CAST(r AS BIGINT),
      vec_id := ids[sel[r]],
      relevance := rels[sel[r]],
      mmr_score := round({score.format(i='sel[r]', acc='list_slice(sel, 1, r - 1)')}, 6)
    ))) AS o
  FROM greedy
)
SELECT query_id, o.mmr_rank AS mmr_rank, o.vec_id AS vec_id,
  o.relevance AS relevance, o.mmr_score AS mmr_score
FROM rows_out
ORDER BY query_id, mmr_rank
"""


def dbscan_clusters(
    vectors: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.5,
    min_pts: int = 4,
    n_bands: int = 4,
    planes_per_band: int = 8,
    max_iterations: int = 20,
) -> DataFrame:
    """Density-based clustering (DBSCAN, Ester et al. KDD 1996) over
    the embedding column, with the eps-neighborhood realized as the
    banded-LSH candidate join instead of a cross product: a point is
    CORE when its cosine>=threshold neighborhood (itself included)
    holds at least ``min_pts`` points; core points connected through
    their neighborhoods form clusters; non-core points adjacent to a
    core are BORDER (assigned the MIN cluster id among their core
    neighbors — standard DBSCAN leaves this tie arbitrary, pinned
    here for determinism); everything else is NOISE — the arbitrary-
    shape clustering k-means structurally cannot do (no centroids, no
    k, outliers stay out instead of distorting a mean).

    Composition, at 100 TB: neighbor pairs are
    :func:`banded_near_dup_pairs` (band equi-join + exact-cosine
    verify, no cross join; recall is the standard LSH amplification
    — exact w.r.t. this plan, approximate w.r.t. all-pairs);
    neighbor counts are one hash aggregate; core-core component
    labels reuse ``dedup.dedup_groups``'s pointer-jumping min-label
    propagation (O(log diameter) rounds, edges-only working set);
    border assignment is one more equi-join + min aggregate. Nothing
    corpus-quadratic anywhere.

    Output: (id, role in core/border/noise, cluster_id = min member
    id, NULL for noise) — all integers/strings, hash-exact in the
    recursive-CTE DuckDB replay.
    """
    from .dedup import dedup_groups

    pairs = banded_near_dup_pairs(
        vectors,
        dim,
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        n_bands=n_bands,
        planes_per_band=planes_per_band,
    )
    # the pair pipeline (band join + cosine verify) feeds SIX branches
    # (sym x2, neighbor counts, two core-pair semis, border) — persist
    # it or the verify join re-executes per consumer (measured ~25 s
    # -> ~6 s at sf0.1)
    pr = pairs.select("id_a", "id_b").persist()
    sym = pr.select(
        F.col("id_a").alias("_u"), F.col("id_b").alias("_v")
    ).unionByName(pr.select(F.col("id_b").alias("_u"), F.col("id_a").alias("_v")))
    ncnt = sym.groupBy("_u").agg(F.count(F.lit(1)).alias("_nn"))
    core_ids = ncnt.filter(F.col("_nn") + 1 >= int(min_pts)).select(
        F.col("_u").alias(id_col)
    )
    core_pairs = pr.join(
        core_ids.select(F.col(id_col).alias("id_a")), "id_a", "left_semi"
    ).join(core_ids.select(F.col(id_col).alias("id_b")), "id_b", "left_semi")
    comp = dedup_groups(
        core_pairs, core_ids, id_col=id_col, max_iterations=max_iterations
    )
    core_lbl = comp.select(
        F.col(id_col).alias("_cid"), F.col("group_id").alias("_ccl")
    )
    border = (
        sym.join(core_ids.select(F.col(id_col).alias("_u")), "_u", "left_anti")
        .join(core_lbl.withColumnRenamed("_cid", "_v"), "_v")
        .groupBy("_u")
        .agg(F.min("_ccl").alias("_bcl"))
    )
    out = (
        vectors.select(F.col(id_col))
        .join(core_lbl.withColumnRenamed("_cid", id_col), id_col, "left")
        .join(border.withColumnRenamed("_u", id_col), id_col, "left")
        .select(
            id_col,
            F.when(F.col("_ccl").isNotNull(), F.lit("core"))
            .when(F.col("_bcl").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce(F.col("_ccl"), F.col("_bcl")).alias("cluster_id"),
        )
        .orderBy(id_col)
    )
    out.unpersist_base = lambda: (
        pairs.unpersist_base(),
        comp.unpersist_base(),
        pr.unpersist(blocking=True),
    )
    return out


def dbscan_oracle_sql(
    dim: int,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.5,
    min_pts: int = 4,
    n_bands: int = 4,
    planes_per_band: int = 8,
) -> str:
    """DuckDB replay of :func:`dbscan_clusters`: splices the banded
    near-dup oracle's CTEs into a ``pairs`` CTE, then core counting +
    a recursive-CTE min-label reach for the core components + the
    min-tie border join — the dedup_groups oracle discipline."""
    base = banded_near_dup_oracle_sql(
        dim,
        table=table,
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        n_bands=n_bands,
        planes_per_band=planes_per_band,
    )
    body = base.rsplit("\nORDER BY", 1)[0]
    i = body.rindex("\nSELECT")
    # every CTE feeding the recursive member is MATERIALIZED: DuckDB
    # otherwise re-inlines the whole LSH pipeline into each recursion
    # step (the WordPiece-oracle 3^rounds blowup, here as an OOM)
    spliced = (
        body[:i].replace("WITH bk AS", "WITH RECURSIVE bk AS", 1)
        + ",\npairs AS MATERIALIZED ("
        + body[i:]
        + "\n),"
    )
    return f"""{spliced}
edges AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL SELECT id_b AS u, id_a AS v FROM pairs
),
ncnt AS MATERIALIZED (SELECT u, count(*) AS nn FROM edges GROUP BY u),
core AS MATERIALIZED (SELECT u AS id FROM ncnt WHERE nn + 1 >= {int(min_pts)}),
core_edges AS MATERIALIZED (
  SELECT u, v FROM edges
  WHERE u IN (SELECT id FROM core) AND v IN (SELECT id FROM core)
),
reach(id, root) AS (
  SELECT id, id FROM core
  UNION
  SELECT e.v, r.root FROM reach r JOIN core_edges e ON e.u = r.id
),
core_lbl AS (SELECT id, min(root) AS cluster_id FROM reach GROUP BY id),
border AS (
  SELECT e.u AS id, min(c.cluster_id) AS cluster_id
  FROM edges e JOIN core_lbl c ON c.id = e.v
  WHERE e.u NOT IN (SELECT id FROM core)
  GROUP BY e.u
)
SELECT v.{id_col} AS {id_col},
  CASE WHEN cl.id IS NOT NULL THEN 'core'
       WHEN b.id IS NOT NULL THEN 'border'
       ELSE 'noise' END AS role,
  coalesce(cl.cluster_id, b.cluster_id) AS cluster_id
FROM {table} v
LEFT JOIN core_lbl cl ON cl.id = v.{id_col}
LEFT JOIN border b ON b.id = v.{id_col}
ORDER BY {id_col}
"""


def token_jaccard_topk(
    docs: DataFrame,
    query_ids: Sequence[int],
    k: int = 20,
    max_df: int | None = None,
    max_df_pct: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Lexical retrieval channel: top-k documents per query document
    by distinct-token-set Jaccard, via an inverted-index equi-join —
    the sparse/lexical half of a hybrid retrieval stack (the dense
    half is ``brute_force_topk`` / the ANN variants).

    Plan at 100 TB: the corpus tokenizes ONCE into a distinct
    (doc, token) posting frame; the query side is a handful of rows
    filtered from it (broadcast). Candidates are docs sharing >= 1
    surviving token with a query — an equi-join on the token, never a
    cross join — and the per-(query, doc) shared count is one hash
    aggregate. ``max_df`` culls tokens appearing in more than that
    many documents from BOTH sides (the MOSS boilerplate-gram
    discipline: a stopword shared by every document adds no ranking
    signal but multiplies join fan-out by its document frequency);
    ``max_df_pct`` is the scale-relative form — tokens in more than
    that percent of the corpus drop, decided by the EXACT integer
    test ``df · 100 <= pct · n_docs`` against a 1-row broadcast count
    (no driver collect, no float threshold that could flip at a
    boundary). Jaccard is computed over the post-cull sets,
    deterministically.

    Determinism: shared/|A|/|B| are exact BIGINTs, Jaccard is ONE
    int/int double division (|A∪B| = |A|+|B|−shared arithmetically —
    no second set build), rounded to 6; ranking by (jaccard desc, id)
    is a total order.
    """
    from ..functions.text import tokenize_col

    postings = (
        docs.select(F.col(id_col), F.explode(tokenize_col(F.col(text_col))).alias("tok"))
        .distinct()
    )
    if max_df is not None and max_df_pct is not None:
        raise ValueError("pass max_df or max_df_pct, not both")
    if max_df is not None:
        keep = (
            postings.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("tok")
        )
        postings = postings.join(keep, "tok")
    elif max_df_pct is not None:
        ndocs = docs.agg(F.count(F.lit(1)).alias("_n"))
        keep = (
            postings.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("_df"))
            .join(F.broadcast(ndocs))
            .filter(F.col("_df") * 100 <= int(max_df_pct) * F.col("_n"))
            .select("tok")
        )
        postings = postings.join(keep, "tok")
    # four consumers below (sizes, query postings, query sizes, the
    # shared-token join) — compute the tokenize+distinct(+cull)
    # pipeline once; released via unpersist_base
    postings = postings.persist()
    sizes = postings.groupBy(id_col).agg(F.count(F.lit(1)).alias("_sz"))

    qp = F.broadcast(
        postings.filter(F.col(id_col).isin(*[int(q) for q in query_ids])).select(
            F.col(id_col).alias("query_id"), "tok"
        )
    )
    qs = F.broadcast(
        sizes.filter(F.col(id_col).isin(*[int(q) for q in query_ids])).select(
            F.col(id_col).alias("query_id"), F.col("_sz").alias("_qsz")
        )
    )
    shared = (
        qp.join(postings, "tok")
        .groupBy("query_id", id_col)
        .agg(F.count(F.lit(1)).alias("_shared"))
    )
    scored = (
        shared.join(sizes, id_col)
        .join(qs, "query_id")
        .select(
            "query_id",
            id_col,
            F.round(
                F.col("_shared").cast("double")
                / (F.col("_qsz") + F.col("_sz") - F.col("_shared")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("jaccard"), F.asc(id_col))
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )
    out.unpersist_base = lambda: postings.unpersist(blocking=True)
    return out


def rrf_fuse(
    rankings: Sequence[DataFrame],
    k_const: int = 60,
    topk: int = 10,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR
    2009): fuse N ranked candidate lists per query into one ranking
    by score = Σ_channels 1/(k_const + rank), the standard hybrid
    lexical+dense combiner — rank-based, so BM25 scores and cosines
    never need calibrating onto one scale, and k=60 damps any single
    channel's head.

    Plan: the inputs are top-k frames — (queries × k)-bounded, never
    corpus-scale — full-outer-joined on (query, id) so a candidate
    ranked by only one channel still scores (absent channels
    contribute exactly 0.0). One window per query ranks the fused
    score. Determinism: each 1/(k+r) is one exact IEEE division on
    small integers, channel terms add in the fixed channel order,
    rounded to 6; (score desc, id) is a total order so both engines
    cut the same topk.
    """
    if len(rankings) < 2:
        raise ValueError("rrf_fuse needs >= 2 ranked channels")
    fused = None
    for i, r in enumerate(rankings):
        side = r.select(
            query_col, id_col, F.col(rank_col).alias(f"_r{i}")
        )
        fused = side if fused is None else fused.join(
            side, [query_col, id_col], "full_outer"
        )
    score = None
    for i in range(len(rankings)):
        term = F.coalesce(
            F.lit(1.0) / (F.lit(float(k_const)) + F.col(f"_r{i}").cast("double")),
            F.lit(0.0),
        )
        score = term if score is None else score + term
    w = Window.partitionBy(query_col).orderBy(F.desc("rrf_score"), F.asc(id_col))
    return (
        fused.select(query_col, id_col, F.round(score, 6).alias("rrf_score"))
        .withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= topk)
        .orderBy(query_col, "fused_rank")
    )


def pca_power_fit(
    vectors: DataFrame,
    dim: int,
    iterations: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 10**9,
) -> "tuple[list[float], float]":
    """Top principal component by fixed-round power iteration — the
    in-engine linear-algebra primitive under embedding whitening,
    dominant-direction removal (the "all embeddings share a huge
    common component" pathology) and spectral outlier scoring.
    Trained entirely inside the engine with no sampling, RNG, numpy
    or MLlib: the kmeans/logreg integer-moment discipline extended to
    eigenvector iteration.

    Per round, the matrix-vector product ``u = (1/n)·Σ_i s_i·c_i``
    (``s_i = v·c_i``, ``c_i`` the mean-centered row) needs ONE
    map-side-partial hash aggregate: per-row ``s_i`` is a fixed
    left-associated dot chain over the quantized components, and each
    of the ``dim`` accumulations quantizes ``s_i·c_ij`` to BIGINT
    micro-units before the corpus sum — a partition-order-independent
    sum of longs, so the whole trajectory is bit-reproducible and the
    DuckDB replay (one CTE per round, weights threaded as scalar
    subqueries) matches every double exactly. The driver holds only
    the dim-float vector between rounds.

    Components quantize once at ingest (``round(x·1e6)``, the kmeans
    ``_quantize``) and rescale to original units, so the centered
    values both engines see are identical doubles. v0 = e_1
    (deterministic); fixed round count, no convergence claim — the
    LPA replay discipline.

    Long-sum headroom: per-row quantized contributions are
    ~|s·c|·quant ≲ dim·quant; at 10^12 rows lower ``quant`` to keep
    n·dim·quant under 2^63 (documented trade, same as logreg).

    Returns ``(v, eigval, mean)`` — the unit top eigenvector, its
    Rayleigh-quotient eigenvalue in original (covariance) units, and
    the per-dimension mean (original units) the centering used.
    """
    import math

    if iterations < 1:
        raise ValueError("pca_power: iterations must be >= 1")
    if dim < 1:
        raise ValueError("pca_power: dim must be >= 1")
    vq = F.transform(
        F.slice(F.col(vec_col), 1, int(dim)),
        lambda x: F.round(x.cast("double") * F.lit(1e6), 0).cast("long"),
    )
    base = vectors.select(
        *[F.element_at(vq, j + 1).alias(f"_x{j}") for j in range(dim)]
    ).persist()
    n = base.count()
    if n == 0:
        base.unpersist()
        raise ValueError("pca_power: empty input frame")
    msums = base.agg(
        *[F.sum(F.col(f"_x{j}")).cast("long").alias(f"m{j}") for j in range(dim)]
    ).collect()[0]
    nd = float(n)
    mean = [msums[j] / (nd * 1e6) for j in range(dim)]
    qf = float(quant)
    v = [0.0] * dim
    v[0] = 1.0
    u = list(v)
    v_prev = list(v)
    for _ in range(int(iterations)):
        cent = [
            (F.col(f"_x{j}").cast("double") / F.lit(1e6)) - F.lit(mean[j])
            for j in range(dim)
        ]
        s: Column = F.lit(v[0]) * cent[0]
        for j in range(1, dim):
            s = s + F.lit(v[j]) * cent[j]
        aggs = [
            F.sum(F.round((s * cent[j]) * F.lit(qf), 0).cast("long")).alias(
                f"q{j}"
            )
            for j in range(dim)
        ]
        sums = base.agg(*aggs).collect()[0]
        u = [sums[j] / (nd * qf) for j in range(dim)]
        ss = u[0] * u[0]
        for j in range(1, dim):
            ss = ss + u[j] * u[j]
        norm = math.sqrt(ss)
        if norm == 0.0:
            base.unpersist(blocking=True)
            raise ValueError("pca_power: zero-variance input (norm 0)")
        v_prev = list(v)
        v = [u[j] / norm for j in range(dim)]
    base.unpersist(blocking=True)
    lam = v_prev[0] * u[0]
    for j in range(1, dim):
        lam = lam + v_prev[j] * u[j]
    return v, lam, mean


def pca_power(
    vectors: DataFrame,
    dim: int,
    iterations: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 10**9,
) -> DataFrame:
    """Frame view of :func:`pca_power_fit`: one row per dimension —
    ``(dim_idx, loading, eigval)``, doubles rounded to 6."""
    v, lam, _ = pca_power_fit(vectors, dim, iterations, id_col, vec_col, quant)
    spark = vectors.sparkSession
    rows = [(j, v[j], lam) for j in range(dim)]
    out = spark.createDataFrame(
        rows, "dim_idx int, loading double, eigval double"
    )
    return out.select(
        "dim_idx",
        F.round("loading", 6).alias("loading"),
        F.round("eigval", 6).alias("eigval"),
    ).orderBy("dim_idx")


def pca_power_oracle_sql(
    dim: int,
    iterations: int = 8,
    table: str = "embeddings",
    vec_col: str = "embedding",
    quant: int = 10**9,
) -> str:
    """DuckDB replay of :func:`pca_power`: quantized base, one mean
    CTE, one CTE per power-iteration round with the identical
    left-associated dot/sum-of-squares chains. The previous round's
    components, the means and n enter each round via ONE cross join
    of the 1-row CTEs (a per-reference scalar subquery becomes a
    separate 1-row join in DuckDB — at dim^2 references per round
    that planned 512 joins and ran 68 s; the single cross join is
    <1 s, bit-identical values). Every float op matches the driver's
    Python arithmetic because its operands are bit-identical (the
    logreg unrolled discipline)."""
    qf = repr(float(quant))
    xs = ",\n    ".join(
        f"CAST(round(CAST({vec_col}[{j + 1}] AS DOUBLE) * 1e6, 0) AS BIGINT) AS x{j}"
        for j in range(dim)
    )
    parts = [f"pbase AS MATERIALIZED (\n  SELECT {xs}\n  FROM {table}\n)"]
    parts.append(
        "pnn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM pbase)"
    )
    msel = ", ".join(
        f"CAST(sum(x{j}) AS BIGINT) AS s{j}" for j in range(dim)
    )
    parts.append(f"psums AS MATERIALIZED (SELECT {msel} FROM pbase)")
    mm = ", ".join(
        f"CAST(s{j} AS DOUBLE) / (pnn.n * 1e6) AS m{j}" for j in range(dim)
    )
    parts.append(f"pmm AS MATERIALIZED (SELECT {mm} FROM psums, pnn)")
    v0 = ", ".join(
        f"CAST({'1.0' if j == 0 else '0.0'} AS DOUBLE) AS v{j}"
        for j in range(dim)
    )
    parts.append(f"pw_0 AS (SELECT {v0})")

    def _cent(j: int) -> str:
        return f"(CAST(x{j} AS DOUBLE) / 1e6 - pm.m{j})"

    for t in range(1, int(iterations) + 1):
        prev = f"pw_{t - 1}"
        s = f"(pv.v0 * {_cent(0)})"
        for j in range(1, dim):
            s = f"({s} + pv.v{j} * {_cent(j)})"
        qs = ", ".join(
            f"CAST(sum(CAST(round(({s} * {_cent(j)}) * {qf}, 0) AS BIGINT)) AS BIGINT) AS q{j}"
            for j in range(dim)
        )
        us = ", ".join(
            f"CAST(q{j} AS DOUBLE) / (pnn.n * {qf}) AS u{j}" for j in range(dim)
        )
        ss = "(u0 * u0)"
        for j in range(1, dim):
            ss = f"({ss} + u{j} * u{j})"
        vs = ", ".join(f"u{j} / sqrt({ss}) AS v{j}" for j in range(dim))
        parts.append(
            f"pw_{t} AS MATERIALIZED (\n"
            f"  SELECT u0{''.join(f', u{j}' for j in range(1, dim))}, {vs}\n"
            f"  FROM (SELECT {us}\n"
            f"        FROM (SELECT {qs} FROM pbase, {prev} AS pv, pmm AS pm), pnn))"
        )
    last = f"pw_{int(iterations)}"
    prevlast = f"pw_{int(iterations) - 1}"
    lam = "(pl.v0 * ll.u0)"
    for j in range(1, dim):
        lam = f"({lam} + pl.v{j} * ll.u{j})"
    sel = "\nUNION ALL ".join(
        f"SELECT {j} AS dim_idx, round(ll.v{j}, 6) AS loading,"
        f" round({lam}, 6) AS eigval FROM {last} ll, {prevlast} pl"
        for j in range(dim)
    )
    body = ",\n".join(parts)
    return f"WITH {body}\nSELECT * FROM (\n{sel}\n) ORDER BY dim_idx"


def pca_ctes(
    dim: int,
    iterations: int = 8,
    table: str = "embeddings",
    vec_col: str = "embedding",
    quant: int = 10**9,
    id_col: "str | None" = None,
) -> "tuple[str, str]":
    """The quantize/mean/round CTE chain shared by
    :func:`pca_power_oracle_sql` and the spectral-outlier oracle.
    Returns (comma-joined CTEs without the leading WITH, name of the
    final round CTE). With ``id_col`` set, ``pbase`` carries the id
    through for per-row consumers."""
    import re as _re

    full = pca_power_oracle_sql(dim, iterations, table, vec_col, quant)
    body = full[len("WITH ") : full.index("\nSELECT * FROM (")]
    if id_col:
        body = body.replace(
            "pbase AS MATERIALIZED (\n  SELECT ",
            f"pbase AS MATERIALIZED (\n  SELECT {id_col},\n    ",
            1,
        )
    assert _re.search(r"pw_\d+ AS", body)
    return body, f"pw_{int(iterations)}"


def pca_outliers(
    vectors: DataFrame,
    dim: int,
    iterations: int = 8,
    k: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 10**9,
) -> DataFrame:
    """Spectral outlier scoring — the :func:`pca_power_fit` consumer:
    fit the top principal component, then score every embedding by
    its squared residual after projecting out that component
    (``resid2 = |c|^2 - (v . c)^2``, c mean-centered). Rows far from
    the corpus's dominant direction are the odd-ones-out a plain
    norm/centroid distance misses when one strong axis dominates the
    spread (Shin et al.'s all-but-the-top observation for text
    embeddings).

    One extra scan after the fit: per-row proj/resid are fixed
    left-associated chains over the same per-element quantized
    components the fit used, with the fitted vector and means
    embedded as literals — so the DuckDB replay (the fit's unrolled
    CTE chain + one scoring scan cross-joined to the 1-row
    vector/mean CTEs) is hash-exact. Top-k by (rounded resid2 desc,
    id) — a bounded TakeOrdered, deterministic under ties.
    """
    if k < 1:
        raise ValueError("pca_outliers: k must be >= 1")
    v, _lam, mean = pca_power_fit(
        vectors, dim, iterations, id_col, vec_col, quant
    )
    cent = [
        (
            F.round(
                F.element_at(F.col(vec_col), j + 1).cast("double") * F.lit(1e6),
                0,
            ).cast("long")
            .cast("double")
            / F.lit(1e6)
        )
        - F.lit(mean[j])
        for j in range(dim)
    ]
    proj: Column = F.lit(v[0]) * cent[0]
    for j in range(1, dim):
        proj = proj + F.lit(v[j]) * cent[j]
    cc: Column = cent[0] * cent[0]
    for j in range(1, dim):
        cc = cc + cent[j] * cent[j]
    resid2 = cc - proj * proj
    return (
        vectors.select(
            F.col(id_col),
            F.round(proj, 6).alias("proj"),
            F.round(resid2, 6).alias("resid2"),
        )
        .orderBy(F.desc("resid2"), id_col)
        .limit(int(k))
    )


def pca_outliers_oracle_sql(
    dim: int,
    iterations: int = 8,
    k: int = 20,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 10**9,
) -> str:
    """DuckDB replay of :func:`pca_outliers`: the fit's CTE chain
    (``pca_ctes`` with the id threaded through pbase) + one scoring
    scan cross-joined to the final-round vector and the mean CTE."""
    body, last = pca_ctes(
        dim, iterations, table, vec_col, quant, id_col=id_col
    )

    # pbase already holds round(x*1e6) as BIGINT; rescale only
    def _centq(j: int) -> str:
        return f"(CAST(x{j} AS DOUBLE) / 1e6 - pm.m{j})"

    proj = f"(ll.v0 * {_centq(0)})"
    for j in range(1, dim):
        proj = f"({proj} + ll.v{j} * {_centq(j)})"
    cc = f"({_centq(0)} * {_centq(0)})"
    for j in range(1, dim):
        cc = f"({cc} + {_centq(j)} * {_centq(j)})"
    return f"""WITH {body}
SELECT {id_col}, round({proj}, 6) AS proj,
  round(({cc} - {proj} * {proj}), 6) AS resid2
FROM pbase, {last} ll, pmm pm
ORDER BY resid2 DESC, {id_col} LIMIT {int(k)}"""


def hard_negatives(
    vectors: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    n_planes: int = 6,
    query_pred: "Optional[Column]" = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training (the in-batch /
    ANCE recipe, Xiong et al. 2021): for each query item, the top-k
    most-cosine-similar items with a DIFFERENT label — the negatives
    that actually teach (a random negative is trivially far; the
    near-miss with the wrong label is where the margin lives).
    Equally the confusable-pair auditor: items whose nearest
    neighbors keep crossing label boundaries are the mislabel/overlap
    candidates a curation pass should look at.

    Engine shape = the ANN scale path (:func:`lsh_topk`): candidates
    from the same sign-hyperplane LSH bucket (equi-join, never a
    cross product), exact cosine + bounded rank window within
    candidates, label-mismatch filter BEFORE ranking so the k slots
    are all negatives. Deterministic planes → the DuckDB replay is
    hash-exact, making the 'approximate' miner exactly checkable.

    Output: ``(query_id, neg_id, query_label, neg_label, cosine,
    rank)``, rank 1..k per query.
    """
    if int(k) < 1:
        raise ValueError("hard_negatives: k must be >= 1")
    base = vectors.select(
        F.col(id_col),
        F.col(label_col).alias("_lab"),
        F.col(vec_col).alias("_vec"),
        lsh_bucket(F.col(vec_col), dim, n_planes).alias("_bkt"),
    )
    q = base if query_pred is None else base.filter(query_pred)
    q = q.select(
        F.col(id_col).alias("query_id"),
        F.col("_lab").alias("query_label"),
        F.col("_vec").alias("_qvec"),
        "_bkt",
    )
    v = base.select(
        F.col(id_col).alias("neg_id"),
        F.col("_lab").alias("neg_label"),
        F.col("_vec").alias("_nvec"),
        "_bkt",
    )
    scored = (
        q.join(v, "_bkt")
        .filter(F.col("query_label") != F.col("neg_label"))
        .select(
            "query_id",
            "neg_id",
            "query_label",
            "neg_label",
            F.round(cosine(F.col("_qvec"), F.col("_nvec")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neg_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= int(k))
        .orderBy("query_id", "rank")
    )


def hard_negatives_oracle_sql(
    dim: int,
    k: int = 5,
    n_planes: int = 6,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_pred: str = "vec_id < 10",
) -> str:
    """DuckDB replay of :func:`hard_negatives` — identical buckets,
    exact cosine, label-mismatch before ranking."""
    dot = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> CAST(list_extract({{a}}, i) AS DOUBLE) * CAST(list_extract({{b}}, i) AS DOUBLE)))"
    )
    return f"""
WITH hnbk AS (
  SELECT v.{id_col}, v.{label_col} AS lab, v.{vec_col},
    {lsh_bucket_sql('v.' + vec_col, dim, n_planes)} AS _bkt
  FROM {table} v
),
hnq AS (
  SELECT {id_col} AS query_id, lab AS query_label, {vec_col} AS qe, _bkt
  FROM hnbk WHERE {query_pred}
),
hnscored AS (
  SELECT q.query_id, v.{id_col} AS neg_id, q.query_label, v.lab AS neg_label,
    round({dot.format(a='q.qe', b='v.' + vec_col)}
      / (sqrt({dot.format(a='q.qe', b='q.qe')})
         * sqrt({dot.format(a='v.' + vec_col, b='v.' + vec_col)})), 6) AS cosine
  FROM hnq q JOIN hnbk v ON q._bkt = v._bkt AND q.query_label <> v.lab
),
hnranked AS (
  SELECT query_id, neg_id, query_label, neg_label, cosine,
    CAST(row_number() OVER (PARTITION BY query_id
         ORDER BY cosine DESC, neg_id) AS BIGINT) AS rank
  FROM hnscored
)
SELECT query_id, neg_id, query_label, neg_label, cosine, rank
FROM hnranked WHERE rank <= {k}
ORDER BY query_id, rank
"""
