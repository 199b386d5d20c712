"""Embedding similarity: cosine near-dup pairs, top-k ANN search and
the vector-QA operators around them.

No reference parity (the reference has no vector ops); these are the
LLM-data-pipeline extensions, designed Spark-first. Cosine is a pure
Catalyst fold over ``array<double>`` — JVM-side, left to right, so the
float semantics are deterministic and oracle-comparable — with the
per-vector norms hoisted out of per-pair scores (:func:`cosine_pair`).

Every top-k operator has one shape: candidate pairs (broadcast cross
join, LSH bucket, IVF cell or PQ code join) → :func:`_score` (drop
self-matches, round to 4dp) → :func:`_topk_per_query` (per-query rank,
ties to the lower neighbor id). The seeded, oracle-bearing twins also
share :func:`_seeded_projection` (long id, vector, norm),
:func:`_nearest_seeds` (cell assignment), :func:`_seeded_route` (IVF
probe → cell equi-join → score) and :func:`_pq_encode_seeded`
(subvector explode → L2 argmin → reconstruction). Trainers run on
bounded driver-side samples; assignment, encode and search stay
distributed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import round_half_up
from ..session import fan_out


def as_double_array(col: Column) -> Column:
    return col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array<double> columns.

    PERF (r16, measured): the interpreted fold is the FASTEST reliable
    form on this engine — unrolling to 64 explicit ``get(i)`` products
    generates a single >8 KB codegen method that HotSpot refuses to
    JIT (5× slower, measured), and an index-``sequence`` fold saves
    the zip allocation but loses it to per-step ``get`` overhead.
    What DOES pay is calling this fewer times: pairwise operators must
    hoist per-VECTOR norms out of the per-PAIR cosine (see
    :func:`cosine_pair` — 3 folds/pair → 1 fold/pair, measured ~3×).
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def _d2_unrolled(a: Column, b: Column, n: int) -> Column:
    """Squared L2 distance of two KNOWN-LENGTH-``n`` array<double>
    columns, unrolled to explicit element_at arithmetic.

    Bit-identical to ``dot(zip_with(a,b,-), zip_with(a,b,-))``: the
    fold computes ``((0.0 + d₁²) + d₂²) + …`` left to right, and the
    unrolled chain of binary ``+`` is left-associative, so the IEEE
    addition order is the same sum. Unlike the interpreted
    ``aggregate``/``zip_with`` HOFs (no codegen, one closure call per
    element), element_at + multiply + add compile into whole-stage
    codegen. Only for SMALL n — the PQ subspace width (dsub = dim/m,
    4 at the defaults): r16 measured that a 64-term unroll generates a
    >8 KB method HotSpot refuses to JIT; a ≤16-term chain is far
    under that limit.
    """
    d2: Column = F.lit(0.0)
    for i in range(1, n + 1):
        di = F.element_at(a, i) - F.element_at(b, i)
        d2 = d2 + di * di
    return d2


def cosine(a: Column, b: Column) -> Column:
    """cosine similarity; NULL when either norm is 0."""
    denom = norm(a) * norm(b)
    return F.when(denom > 0, dot(a, b) / denom)


def py_norm(vec: "list[float]") -> float:
    """Driver-side L2 norm, bit-identical to :func:`norm` on the same
    doubles: the JVM fold is ``acc = 0.0; acc = acc + x·x`` left to
    right then sqrt — Python floats are the same IEEE doubles with the
    same op order. Used to ship HOISTED norms of plan-literal vectors
    (centroids, seeds) so the per-pair cosine pays one fold."""
    import math

    acc = 0.0
    for x in vec:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


def cosine_pair(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """cosine with the two vector norms HOISTED to per-vector columns:
    ``dot(a,b) / (na*nb)``, NULL when the denominator is 0 — the
    per-pair form of :func:`cosine` for pairwise operators where
    pairs ≫ vectors. BIT-IDENTICAL to ``cosine(a, b)`` when ``na`` /
    ``nb`` are ``norm(a)`` / ``norm(b)`` materialized per vector: the
    norm fold reads only its own vector, so evaluating it once per
    vector instead of once per pair is pure common-subexpression
    elimination — same IEEE composition, 1 fold per pair instead of 3
    (measured ~3× on the pair stage)."""
    denom = na * nb
    return F.when(denom > 0, dot(a, b) / denom)


def _topk_per_query(scored: DataFrame, score_col: str, k: int) -> DataFrame:
    """The ANN family's one ranking contract: per ``query_id`` the
    ``k`` highest ``score_col`` rows, ties to the lower ``neighbor_id``,
    as (query_id, neighbor_id, score_col, rnk). Every top-k operator
    and its DuckDB oracle (``plans.queries._topk_sql``) rank this way."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score_col).desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", score_col, "rnk")
    )


def _score(cand: DataFrame, score: Column, name: str) -> DataFrame:
    """(query_id, neighbor_id, ``name``): ``score`` over the candidate
    pairs, self-matches dropped, rounded to 4dp BEFORE any rank or
    threshold so an engine ulp cannot reorder ties or cross the cut —
    the ANN family's one scoring rule, as its oracles state it."""
    return cand.filter(F.col("neighbor_id") != F.col("query_id")).select(
        "query_id", "neighbor_id", round_half_up(score, 4).alias(name)
    )


def _pseudo_random_planes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic unit-free hyperplanes from a seeded generator.

    numpy is available in this environment, but a hand-rolled LCG keeps
    the signature reproducible across library versions.
    """
    state = seed & 0x7FFFFFFF
    planes: list[list[float]] = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            row.append(state / float(1 << 31) - 0.5)
        planes.append(row)
    return planes


def hyperplane_signature(
    vec: Column, dim: int, n_planes: int = 16, seed: int = 42
) -> Column:
    """n_planes-bit LSH bucket id: bit i = sign(vec · plane_i) > 0."""
    planes = _pseudo_random_planes(dim, n_planes, seed)
    v = as_double_array(vec)
    sig: Column = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(x) for x in plane])
        bit = F.when(dot(v, p) > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        sig = sig.bitwiseOR(F.shiftleft(bit, i))
    return sig


def cosine_neardup_pairs(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """All pairs (id_a, id_b, cos_sim) with cosine >= threshold.

    Exact O(N²) formulation for oracle parity / modest N. The scale
    path is :func:`cosine_neardup_blocked` (same output, distributed
    block-pair gemm). The self-join condition id_a < id_b halves the work
    and makes output deterministic.
    """
    va = as_double_array(F.col(vec_col))
    v = emb.select(F.col(id_col).alias("id"), va.alias("v"), norm(va).alias("n"))
    a, b = v.alias("a"), v.alias("b")
    sim = cosine_pair(F.col("a.v"), F.col("b.v"), F.col("a.n"), F.col("b.n"))
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            round_half_up(sim, 4).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def cosine_neardup_blocked(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_blocks: int | None = 8,
    within: str | None = None,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold via distributed block-pair gemm.

    Same output contract as :func:`cosine_neardup_pairs` — fully
    distributed, nothing materializes on the driver. Each vector is
    hashed to one of ``n_blocks`` blocks; every unordered block pair
    (bi ≤ bj) becomes one ``applyInPandas`` group holding both blocks'
    rows, scored with ONE BLAS gemm and emitting only pairs above
    threshold with id_a < id_b. Each unordered vector pair lands in
    exactly one block pair, so the output has no duplicates.

    Scale shape: shuffle is O(N · n_blocks) rows (each row replicated
    once per block pair it joins); per-task memory is
    O((N / n_blocks) · dim) doubles. Compute stays O(N²) — that is the
    *semantics* — so size ``n_blocks`` so two blocks fit in executor
    memory (1 M × 64 doubles at n_blocks=32 → ~32 MB per block); an
    O(corpus)-shuffle approximate path would bucket candidates with
    :func:`hyperplane_signature` as :func:`ann_lsh_topk` does. Block
    assignment only picks *where* a pair is scored, never which pairs
    exist or their values, so the output is invariant to ``n_blocks``
    and partitioning.

    Values match the pure-Catalyst formulation after the 4dp round:
    gemm reorders float additions, but a ~1e-15 perturbation cannot
    move a value across a 5e-5 rounding bucket except on exact
    boundaries, which finite random data does not produce.

    ``within``: optional grouping column — pairs are generated ONLY
    inside equal (non-null) values of this column (the SemDeDup
    within-cluster restriction). The gemm groups become
    (within, bi, bj), so per-task memory is bounded by the largest
    cluster's block pair and skew across clusters spreads over the
    block-pair axis.
    """
    import numpy as np
    import pandas as pd

    grp = (
        F.col(within).alias("grp")
        if within is not None
        else F.lit(0).alias("grp")
    )
    v = emb.select(
        F.col(id_col).cast("long").alias("id"),
        as_double_array(F.col(vec_col)).alias("v"),
        grp,
    )
    if n_blocks is None:
        # auto-size so the per-task pair matrix stays bounded: with a
        # pinned n_blocks the block side grows with the corpus and the
        # gemm's similarity matrix grows with its SQUARE — at sf10
        # (200k vecs / 8 blocks) each task materialized a 25k×25k
        # float64 matrix (5 GB) and 32 concurrent tasks OOM-killed the
        # JVM (r14). Output is invariant to n_blocks by construction
        # (block assignment picks WHERE a pair is scored, never which
        # pairs exist), so sizing it from a 1-scalar count is free:
        # block side ≤ ~4k ⇒ sim matrix ≤ ~128 MB/task.
        n_rows = v.count()
        n_blocks = max(4, -(-n_rows // 4000))
    v = v.withColumn(
        "blk", F.pmod(F.xxhash64("id"), F.lit(n_blocks)).cast("int")
    )
    if within is not None:
        # SQL equality semantics: null clusters never pair
        v = v.filter(F.col("grp").isNotNull())
    # replicate each row into every block pair it belongs to: row in
    # block b joins pair group (min(b, o), max(b, o)) for each o
    rep = v.select(
        "id",
        "v",
        "blk",
        "grp",
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("oblk"),
    ).select(
        "id",
        "v",
        "blk",
        "grp",
        F.least("blk", "oblk").alias("bi"),
        F.greatest("blk", "oblk").alias("bj"),
    )

    def _unit(mat: "np.ndarray") -> "np.ndarray":
        norms = np.sqrt((mat * mat).sum(axis=1))
        ok = norms > 0
        mat[ok] = mat[ok] / norms[ok, None]
        mat[~ok] = 0.0  # zero-norm vectors match nothing (cosine NULL)
        return mat

    def score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf["id"].to_numpy(dtype=np.int64)
        mat = _unit(np.array([np.asarray(x, dtype=np.float64) for x in pdf["v"]]))
        bi, bj = int(pdf["bi"].iat[0]), int(pdf["bj"].iat[0])
        if bi == bj:
            sims = mat @ mat.T  # one gemm per block pair
            sims = np.floor(sims * 10000.0 + 0.5) / 10000.0  # round_half_up(4)
            ii, jj = np.nonzero((sims >= threshold) & (ids[:, None] < ids[None, :]))
            id_a, id_b = ids[ii], ids[jj]
        else:
            amask = (pdf["blk"] == bi).to_numpy()
            a_ids, b_ids = ids[amask], ids[~amask]
            sims = mat[amask] @ mat[~amask].T
            sims = np.floor(sims * 10000.0 + 0.5) / 10000.0
            ii, jj = np.nonzero(sims >= threshold)
            id_a = np.minimum(a_ids[ii], b_ids[jj])
            id_b = np.maximum(a_ids[ii], b_ids[jj])
        return pd.DataFrame({"id_a": id_a, "id_b": id_b, "cos_sim": sims[ii, jj]})

    return rep.groupBy("grp", "bi", "bj").applyInPandas(
        score, schema="id_a long, id_b long, cos_sim double"
    )


def _lcg_order(seed: int, n: int, k: int) -> "list[int]":
    """The first ``min(k, n)`` distinct indices of a seeded LCG walk
    over ``range(n)`` — the trainers' one seed permutation,
    reproducible across numpy versions."""
    state, order, taken = seed & 0x7FFFFFFF, [], set()
    while len(order) < min(k, n):
        state = (1103515245 * state + 12345) % (1 << 31)
        j = state % n
        if j not in taken:
            taken.add(j)
            order.append(j)
    return order


def kmeans_centroids(
    emb: DataFrame,
    dim: int,
    n_cells: int = 16,
    vec_col: str = "embedding",
    sample_cap: int = 4096,
    iters: int = 5,
    seed: int = 42,
) -> "list[list[float]]":
    """Deterministic Lloyd-iteration centroids for the IVF index.

    Training runs driver-side in numpy over a bounded sample (first
    ``sample_cap`` vectors by id — deterministic, no RNG in the data
    path); the cluster-scale story is that centroid TRAINING is always
    a small-sample problem (n_cells × dim floats), while ASSIGNMENT —
    the O(corpus) part — stays distributed. Seeds are ``n_cells``
    sample rows picked by a seeded LCG permutation.
    """
    import numpy as np

    mat = _fetch_unit_sample(emb, vec_col, sample_cap, who="kmeans_centroids")
    cents = mat[_lcg_order(seed, len(mat), n_cells)].copy()
    for _ in range(iters):
        assign = (mat @ cents.T).argmax(axis=1)  # cosine on unit vectors
        for c in range(len(cents)):
            members = mat[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cents[c] = m / n
    return cents.tolist()


def ivf_assign(
    emb: DataFrame,
    centroids: "list[list[float]]",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_probe: int = 1,
    out_id: str = "id",
) -> DataFrame:
    """(id, cell, v) — nearest-centroid cell(s) per vector.

    ``n_probe`` > 1 emits that many nearest cells per vector (used on
    the query side). Assignment is mapInPandas: one (batch × n_cells)
    gemm per Arrow batch — O(corpus · n_cells · dim) total, narrow, no
    shuffle; the centroid matrix travels as a task-broadcast literal.
    """
    import numpy as np
    import pandas as pd

    cents = np.array(centroids, dtype=np.float64)
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast(cents)
    src = fan_out(emb.select(F.col(id_col), F.col(vec_col)), id_col)

    def assign(batches):
        c = bc.value
        for pdf in batches:
            vecs = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            if len(vecs) == 0:
                continue
            norms = np.linalg.norm(vecs, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            sims = (vecs / norms) @ c.T
            k = min(n_probe, sims.shape[1])
            top = np.argsort(-sims, axis=1, kind="stable")[:, :k]
            ids = pdf[id_col].to_numpy()
            yield pd.DataFrame(
                {
                    out_id: np.repeat(ids, k),
                    "cell": top.ravel().astype("int32"),
                    "v": [list(row) for row in np.repeat(vecs, k, axis=0)],
                }
            )

    return src.mapInPandas(assign, schema=f"{out_id} long, cell int, v array<double>")


def ann_ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: score only corpus vectors whose cell is
    among the query's ``n_probe`` nearest cells.

    Same output contract as :func:`brute_force_topk` (approximate
    recall). Candidate generation is an equi-join on the cell id —
    shuffle ∝ corpus × 1 (each corpus vector sits in exactly one cell);
    recall/cost is tuned by ``n_probe``/``n_cells``. The third member
    of the ANN family: brute force (exact), hyperplane LSH (stateless
    buckets), IVF (data-adaptive buckets — fewest candidates per unit
    of recall when the corpus clusters).
    """
    cents = kmeans_centroids(emb, dim, n_cells=n_cells, vec_col=vec_col, seed=seed)
    corpus = ivf_assign(
        emb, cents, vec_col, id_col, n_probe=1, out_id="neighbor_id"
    ).withColumn("cn", norm(F.col("v")))
    probes = ivf_assign(queries, cents, vec_col, id_col, n_probe=n_probe, out_id="query_id")
    probes = probes.withColumnRenamed("v", "qv").withColumn("qn", norm(F.col("qv")))
    score = cosine_pair(F.col("qv"), F.col("v"), F.col("qn"), F.col("cn"))
    scored = _score(corpus.join(F.broadcast(probes), "cell"), score, "cos_sim")
    return _topk_per_query(scored, "cos_sim", k)


def _lowest_ids(df: DataFrame, id_col: str, n: int) -> DataFrame:
    """The ``n`` lowest ids in ``df`` (one column, named ``id_col``) —
    a bounded TakeOrderedAndProject, broadcast by every caller. The
    seeded twins derive their deterministic seed state from this
    ("the n lowest-id vectors") instead of ``id < n`` so a corpus
    whose ids are not dense/0-based still yields exactly ``n`` seeds
    rather than silently degenerating (ADVICE r9). On dense 0-based
    ids the two formulations select identical rows."""
    return df.select(id_col).orderBy(F.col(id_col).asc()).limit(n)


def _seeded_projection(
    emb: DataFrame, vec_col: str, id_col: str, keep: "tuple[str, ...]" = ()
) -> DataFrame:
    """(__vid long, __e, __n, *keep): the seeded twins' vector frame,
    the norm hoisted next to the vector (see :func:`cosine_pair`). The
    id is cast to long so an empty-input guard's declared
    ``long`` schema matches the non-empty path for any integral id."""
    ea = as_double_array(F.col(vec_col))
    return emb.select(
        F.col(id_col).cast("long").alias("__vid"),
        ea.alias("__e"),
        norm(ea).alias("__n"),
        *keep,
    )


def _lowest_id_seeds(v: DataFrame, n: int) -> DataFrame:
    """(__cid, __se, __sn): the ``n`` lowest-id rows of a
    :func:`_seeded_projection` frame as the seed cells of
    :func:`_nearest_seeds`."""
    return v.join(F.broadcast(_lowest_ids(v, "__vid", n)), "__vid").select(
        F.col("__vid").alias("__cid"),
        F.col("__e").alias("__se"),
        F.col("__n").alias("__sn"),
    )


def _nearest_seeds(
    side: DataFrame, seeds: DataFrame, out_id: str, n: int, keep: "tuple[str, ...]" = ()
) -> DataFrame:
    """(out_id, *keep, cell): the ``n`` nearest seed cells per vector —
    the seeded twins' one assignment rule. ``side`` carries
    (__vid, __e, __n, *keep), ``seeds`` (__cid, __se, __sn) and is
    broadcast; similarity is the hoisted-norm cosine rounded to 6dp
    BEFORE ranking, ties to the lower cell id (round-before-compare,
    so the cell choice is engine-stable and SQL-restatable). The rank
    window is partitioned by the high-cardinality vector id."""
    sims = side.crossJoin(F.broadcast(seeds)).select(
        F.col("__vid").alias(out_id),
        *keep,
        F.col("__cid"),
        round_half_up(
            cosine_pair(F.col("__e"), F.col("__se"), F.col("__n"), F.col("__sn")),
            6,
        ).alias("__sim"),
    )
    w = Window.partitionBy(out_id).orderBy(F.col("__sim").desc(), F.col("__cid").asc())
    return (
        sims.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .select(out_id, *keep, F.col("__cid").alias("cell"))
    )


def _seeded_route(
    v: DataFrame, queries: DataFrame, id_col: str, cells: DataFrame, n_probe: int, k: int
) -> DataFrame:
    """The seeded IVF routing tail: every row of ``v`` (a
    :func:`_seeded_projection` frame) goes to its nearest of ``cells``
    (__cid, __se, __sn), each query to its ``n_probe`` nearest,
    candidates equi-join on the cell (probes broadcast) and the
    hoisted-norm cosine is scored and ranked."""

    def vecs(out_id: str, e: str, n: str) -> DataFrame:
        return v.select(
            F.col("__vid").alias(out_id), F.col("__e").alias(e), F.col("__n").alias(n)
        )

    corpus = _nearest_seeds(v, cells, "neighbor_id", 1).join(
        vecs("neighbor_id", "cv", "cn"), "neighbor_id"
    )
    probes = _nearest_seeds(
        v.join(queries.select(F.col(id_col).alias("__vid")), "__vid"),
        cells,
        "query_id",
        n_probe,
    ).join(vecs("query_id", "qv", "qn"), "query_id")
    score = cosine_pair(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"))
    scored = _score(corpus.join(F.broadcast(probes), "cell"), score, "cos_sim")
    return _topk_per_query(scored, "cos_sim", k)


def ann_ivf_seeded_topk(
    emb: DataFrame,
    queries: DataFrame,
    n_seeds: int = 16,
    n_probe: int = 4,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF routing with DETERMINISTIC seed centroids (the ``n_seeds``
    lowest-id vectors, no Lloyd iterations) — the oracle-bearing twin
    of :func:`ann_ivf_topk`: assignment, probing, candidate join and
    re-ranking are the IDENTICAL routing pipeline, but the "codebook"
    is SQL-expressible, so a DuckDB oracle can replay every step and
    hash-check cell membership AND final scores. The production key
    keeps trained k-means centroids (better recall per candidate);
    this twin value-gates the routing math those centroids feed.

    Pure Catalyst: seeds broadcast, per-vector cell rank is a window
    partitioned by the vector id (high-cardinality key — no global
    window), candidates equi-join on the cell id. Assignment
    similarity rounds to 6dp BEFORE ranking (round-before-compare, cid
    tie-break) so the cell choice is engine-stable.
    """
    v = _seeded_projection(emb, vec_col, id_col)
    return _seeded_route(v, queries, id_col, _lowest_id_seeds(v, n_seeds), n_probe, k)


def ann_ivf_lloyd_seeded_topk(
    emb: DataFrame,
    queries: DataFrame,
    n_seeds: int = 16,
    n_iters: int = 2,
    n_probe: int = 4,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF routing with ``n_iters`` UNROLLED spherical-Lloyd updates
    from the deterministic 16-lowest-id seed — the oracle-bearing twin
    that value-gates the TRAINED k-means path (:func:`ann_ivf_topk` /
    :func:`kmeans_centroids`) which :func:`ann_ivf_seeded_topk`'s
    training-free twin could not reach (VERDICT r14 #3a).

    Every Lloyd step is engine-portable by the exact-integer
    discipline: (1) assignment ranks 6dp-ROUNDED cosines (cid
    tie-break) against the current centroid literals; (2) the centroid
    update averages UNIT vectors whose coordinates are quantized to
    BIGINT first (``floor(u·1e6 + 0.5)``), so the per-(cell, dim) sums
    are exact in any addition order; (3) the new centroid component is
    ONE float composition of those exact integers —
    ``round6(S_j / sqrt(Σ_j S_j²))`` (the Σ S_j² runs in arbitrary-
    precision ints on the driver / HUGEINT in the oracle) — so both
    engines materialize bit-identical centroid lists for the next
    step. A cell that captures no members simply drops (with real
    embeddings every seed captures at least itself; the drop rule is
    stated so both engines agree even in the degenerate case); an
    all-zero cell sum yields a zero centroid.

    Scale shape: the quantized unit projection is computed once and
    persisted; each iteration is one broadcast-literal assignment pass
    (corpus × n_seeds 6dp cosines, window partitioned by the
    high-cardinality vector id) plus a (cell, dim)-grain BIGINT
    aggregate of which only n_seeds × dim rows reach the driver
    (metadata scale — the kmeans partial-sum pattern). The routing tail
    (probe → candidate equi-join → 4dp re-rank) is
    :func:`_seeded_route`, shared with :func:`ann_ivf_seeded_topk`:
    with ``n_iters=0`` the two return the same rows.
    """
    import math

    from . import caching

    spark = emb.sparkSession
    # persisted (tracked, released per key): the first() probe, the
    # seed collect, the unit projection, every assignment pass and the
    # routing tail all read v, and each re-scanned the parquet for it
    v = caching.persist_tracked(_seeded_projection(emb, vec_col, id_col))
    first_row = v.select("__e").first()
    if first_row is None:
        # empty corpus → empty result frame, same schema (ADVICE r15 —
        # mirrors kcenter_coreset's guard instead of a TypeError)
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cos_sim double, rnk int"
        )
    dim = len(first_row["__e"])
    # iteration-0 "centroids" are the raw seed vectors (cosine is
    # normalization-invariant, so assignment 1 matches the seeded twin)
    cents: "list[tuple[int, list[float]]]" = [
        (int(r["__cid"]), [float(x) for x in r["__se"]])
        for r in _lowest_id_seeds(v, n_seeds).orderBy("__cid").collect()
    ]

    uq = (
        _unit_projection(v, "__e", "__vid", "__uid")
        .select(
            "__uid",
            F.posexplode(F.col("__unit")).alias("__j", "__u"),
        )
        .select(
            "__uid",
            "__j",
            F.floor(F.col("__u") * F.lit(1.0e6) + F.lit(0.5))
            .cast("long")
            .alias("__q"),
        )
        .persist()
    )

    def cent_frame() -> DataFrame:
        return spark.createDataFrame(
            [(c, vec, py_norm(vec)) for c, vec in cents],
            "__cid long, __se array<double>, __sn double",
        )

    try:
        for _ in range(n_iters):
            cells = _nearest_seeds(v, cent_frame(), "__uid", 1)
            sums = (
                uq.join(cells, "__uid")
                .groupBy("cell", "__j")
                .agg(F.sum("__q").alias("__s"))
                .collect()
            )
            by_cell: "dict[int, dict[int, int]]" = {}
            for r in sums:
                by_cell.setdefault(int(r["cell"]), {})[int(r["__j"])] = int(r["__s"])
            new_cents = []
            for cell in sorted(by_cell):
                s = [by_cell[cell].get(j, 0) for j in range(dim)]
                ss = sum(x * x for x in s)  # exact python int (HUGEINT twin)
                if ss > 0:
                    root = math.sqrt(float(ss))
                    vec = [
                        math.floor((float(x) / root) * 1.0e6 + 0.5) / 1.0e6
                        for x in s
                    ]
                else:
                    vec = [0.0] * dim
                new_cents.append((cell, vec))
            cents = new_cents
    finally:
        uq.unpersist()

    return _seeded_route(v, queries, id_col, cent_frame(), n_probe, k)


def pca_eigen_invariants(
    emb: DataFrame,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Oracle-bearing eigensolve gate (VERDICT r14 #3b): eigenvalue
    invariants of the hash-verified quantized covariance —
    ``Σλᵢ = tr(C)`` and ``Σλᵢ² = ‖C‖²_F`` — as a 2-row frame whose
    values come from the DRIVER-SIDE eigensolve, while the DuckDB
    oracle computes the SAME quantities directly from the covariance
    cells in SQL (no eigensolve needed: both identities are exact in
    real arithmetic). A hash match therefore pins the numpy
    ``eigvalsh`` step — previously the one un-gated link in the
    PCA/OOD chain — to ~1e-13 (the 6dp round absorbs the eigensolve's
    O(n·eps·‖C‖) backward error; a broken solve moves the sums far
    beyond it).

    Scale shape: the covariance assembly is
    :func:`embedding_cov_quantized` (exact BIGINT sums, one keyed
    shuffle); only the dim(dim+1)/2 = 2080 covariance cells reach the
    driver, and the 64×64 eigenproblem is metadata-scale numpy.
    """
    import numpy as np

    spark = emb.sparkSession
    cells = embedding_cov_quantized(
        emb, dim=dim, vec_col=vec_col, id_col=id_col
    ).collect()
    C = np.zeros((dim, dim), dtype=np.float64)
    for r in cells:
        i, j, c = int(r["i"]), int(r["j"]), float(r["cov_q"])
        C[i, j] = c
        C[j, i] = c
    lam = np.linalg.eigvalsh(C)
    tr = float(np.sum(lam))
    fr = float(np.sum(lam * lam))

    def r6(x: float) -> float:
        import math

        return math.floor(x * 1.0e6 + 0.5) / 1.0e6

    return spark.createDataFrame(
        [("frobenius_sq", r6(fr)), ("trace", r6(tr))],
        "invariant string, value double",
    )


def _normed_projection(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    out_id: str,
    extra: "dict[str, str] | None" = None,
) -> DataFrame:
    """(out_id[, extra aliases...], {out_id}_v) with the vector
    L2-normalized and NULL on zero norm — the cosine = dot(â, b̂)
    projection shared by :func:`brute_force_topk`,
    :func:`cosine_range_search` and :func:`hard_negatives`
    (``extra`` maps source→alias for columns that ride along, e.g.
    labels). The norm materializes as its own column: referenced from
    inside the transform lambda it must be a plain attribute, or the
    whole fold would re-evaluate per element (the same inlining trap
    as dedup._with_normalized; CollapseProject keeps the barrier
    because __n is non-cheap and referenced twice). Distinct from
    :func:`_unit_projection`, which passes zero-norm vectors through
    unchanged (the PQ path must always have a vector)."""
    extra = extra or {}
    v = as_double_array(F.col(vec_col))
    step = df.select(
        F.col(id_col).alias(out_id),
        *[F.col(src).alias(dst) for src, dst in extra.items()],
        v.alias("__v"),
        norm(v).alias("__n"),
    )
    return step.select(
        out_id,
        *extra.values(),
        F.when(
            F.col("__n") > 0,
            F.transform(F.col("__v"), lambda e: e / F.col("__n")),
        ).alias(f"{out_id}_v"),
    )


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k corpus neighbors per query vector.

    The query set is broadcast (small by construction); the corpus is
    scanned once. Ranking uses a per-query window over the candidate
    scores — with broadcast queries the shuffle is only on query_id
    with ≤ corpus rows. Self-matches are excluded.

    Both sides L2-normalize in their own narrow projection (norm
    computed once per VECTOR), so the per-pair work is a single dot
    product instead of three — cosine(a,b) = dot(â,b̂), NULL preserved
    via the norm guards. The corpus side fans out on its id
    (``session.fan_out``) when the scan arrives under-parallelized.
    """

    q = _normed_projection(queries, vec_col, id_col, "query_id")
    emb = fan_out(emb, id_col)
    c = _normed_projection(emb, vec_col, id_col, "neighbor_id")
    score = dot(F.col("query_id_v"), F.col("neighbor_id_v"))
    scored = _score(c.crossJoin(F.broadcast(q)), score, "cos_sim")
    return _topk_per_query(scored, "cos_sim", k)


def mmr_rerank(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shortlist: int = 30,
    lam: float = 0.7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k (Carbonell &
    Goldstein 1998): select ``k`` of the ``shortlist`` most-relevant
    candidates iteratively, each pick maximizing
    ``lam·rel − (1−lam)·max_sim_to_already_selected`` — the
    redundancy-penalized retrieval every RAG/context-packing pipeline
    wants when the plain top-k is ten paraphrases of one passage.

    Scale shape: stage 1 is the exact broadcast-query shortlist
    (:func:`brute_force_topk` — corpus scanned once, shuffle ≤ corpus
    rows on query_id); stage 2 is per-query and BOUNDED — the
    shortlist×shortlist pair cosines are Catalyst expressions
    (sequential-fold dot products, 4dp, the oracle's exact form) over
    ≤ |Q|·s² broadcast-joined rows, and the greedy selection itself
    runs in one applyInPandas cogroup per query over ≤ s candidates
    (k ≤ s ≤ 64 — driver-free, embarrassingly parallel across
    queries, never corpus-sized). Selection compares RAW doubles
    ``0.7·rel − 0.3·ms`` computed from 4dp-rounded inputs, so both
    engines argmax identical IEEE values; ties break (score desc, id
    asc). Rank 1 is the pure-relevance pick (score = rel).

    Output: (query_id, neighbor_id, mmr_rank, cos_sim, mmr_score 4dp).
    """
    import math

    import pandas as pd

    rel = brute_force_topk(
        emb, queries, k=shortlist, vec_col=vec_col, id_col=id_col
    )
    from . import caching

    rel = caching.persist_tracked(rel)
    vecs = emb.select(
        F.col(id_col).cast("long").alias("__mid"),
        as_double_array(F.col(vec_col)).alias("__mv"),
    )
    members = rel.select("query_id", "neighbor_id").join(
        vecs, F.col("neighbor_id") == F.col("__mid")
    ).select("query_id", "neighbor_id", "__mv", norm(F.col("__mv")).alias("__mn"))
    members = caching.persist_tracked(members)
    a = members.select(
        F.col("query_id").alias("__qa"),
        F.col("neighbor_id").alias("a"),
        F.col("__mv").alias("__va"),
        F.col("__mn").alias("__na"),
    )
    b = members.select(
        F.col("query_id").alias("__qb"),
        F.col("neighbor_id").alias("b"),
        F.col("__mv").alias("__vb"),
        F.col("__mn").alias("__nb"),
    )
    ps = (
        a.join(
            b,
            (F.col("__qa") == F.col("__qb")) & (F.col("a") != F.col("b")),
        )
        .select(
            F.col("__qa").alias("query_id"),
            "a",
            "b",
            round_half_up(
                cosine_pair(
                    F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb")
                ),
                4,
            ).alias("sim"),
        )
    )
    # derive (1 − lam) at RUNTIME from the same lam literal, matching
    # the oracle's `(1 - CAST(0.7 AS DOUBLE))` — the z² discipline,
    # with a DuckDB twist caught by this key's first parity run: a
    # bare SQL `0.7` parses as DECIMAL, making `(1 - 0.7)` the exact
    # decimal 0.3 (≡ the 0.3 double literal), 1 ulp from IEEE
    # 1.0-0.7 = 0.30000000000000004 — enough to flip a score sitting
    # on a 4dp rounding boundary; the CAST forces both engines onto
    # the identical double derivation
    lam_c, div_c = float(lam), float(1.0 - lam)

    def _mmr(key, rel_pdf: "pd.DataFrame", ps_pdf: "pd.DataFrame"):
        if rel_pdf.empty:
            return pd.DataFrame(
                columns=[
                    "query_id", "neighbor_id", "mmr_rank", "cos_sim",
                    "mmr_score",
                ]
            )
        qid = int(rel_pdf["query_id"].iloc[0])
        cand = {
            int(r.neighbor_id): float(r.cos_sim)
            for r in rel_pdf.itertuples()
            if not (isinstance(r.cos_sim, float) and math.isnan(r.cos_sim))
        }
        sims: dict = {}
        for r in ps_pdf.itertuples():
            if not (isinstance(r.sim, float) and math.isnan(r.sim)):
                sims[(int(r.a), int(r.b))] = float(r.sim)
        selected: list = []
        out = []
        for rank in range(1, min(k, len(cand)) + 1):
            best_id, best_score = None, None
            for nid in sorted(cand):
                if rank == 1:
                    score = cand[nid]
                else:
                    ms = [
                        sims[(nid, t)] for t in selected if (nid, t) in sims
                    ]
                    score = (
                        lam_c * cand[nid] - div_c * max(ms) if ms else None
                    )
                # (score desc NULLS LAST, id asc) — ids ascend in this
                # loop, so strict > keeps the lowest id on exact ties
                if best_score is None or (
                    score is not None and score > best_score
                ):
                    if score is not None or best_id is None:
                        best_id, best_score = nid, score
            r = cand.pop(best_id)
            selected.append(best_id)
            sc = r if rank == 1 else best_score
            out.append(
                (
                    qid,
                    best_id,
                    rank,
                    r,
                    None
                    if sc is None
                    else math.floor(sc * 10000.0 + 0.5) / 10000.0,
                )
            )
        return pd.DataFrame(
            out,
            columns=[
                "query_id", "neighbor_id", "mmr_rank", "cos_sim",
                "mmr_score",
            ],
        )

    return (
        rel.groupBy("query_id")
        .cogroup(ps.groupBy("query_id"))
        .applyInPandas(
            _mmr,
            "query_id long, neighbor_id long, mmr_rank int, "
            "cos_sim double, mmr_score double",
        )
    )


def kcenter_coreset(
    emb: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Greedy k-center (farthest-point) coreset selection (Gonzalez
    1985; Sener & Savarese 2018 for training-data curation): start
    from the lowest-id vector, then repeatedly pick the vector whose
    4dp-rounded cosine DISTANCE to its nearest already-selected
    center is LARGEST — the k-point subset that best covers the
    corpus geometry, the diversity-first dual of MMR's
    relevance-first selection.

    Scale shape: carry ONE persisted (id, vec, min_dist) frame; each
    of the k rounds updates it with ``least(carried,
    dist-to-newest-center)`` — a single dot per row per round,
    O(k·corpus) total — then argmaxes via
    TakeOrderedAndProject(1) + a 1-row loop-control collect (the
    kmeans/pagerank driver-loop pattern — metadata scale, never data
    movement). No shuffle anywhere; the previous round's persist is
    released only after the next frame is materialized, so each round
    is one map-only scan of the cached frame regardless of k.

    Distances are min-of-4dp values, so both engines argmax identical
    doubles; ties (dist desc NULLS LAST, id asc). Output (≤ k rows):
    (center_rank, id, min_dist — NULL for rank 1). Empty corpus →
    empty frame (same schema), no driver error.
    """
    spark = emb.sparkSession
    schema = f"center_rank int, {id_col} long, min_dist double"
    ea = as_double_array(F.col(vec_col))
    v = emb.select(
        F.col(id_col).cast("long").alias("__kid"),
        ea.alias("__kv"),
        norm(ea).alias("__kn"),
    )
    first_rows = v.orderBy(F.col("__kid").asc()).limit(1).collect()
    if not first_rows:
        return spark.createDataFrame([], schema)
    first_id = int(first_rows[0]["__kid"])
    out = [(1, first_id, None)]

    def _dist_to(cvec):
        return round_half_up(
            F.lit(1.0)
            - cosine_pair(
                F.col("__kv"),
                F.array(*[F.lit(float(x)) for x in cvec]),
                F.col("__kn"),
                F.lit(py_norm(cvec)),
            ),
            4,
        )

    # one persisted frame carrying the min distance so far
    # (and the hoisted vector norm, read by every round's _dist_to)
    cur = (
        v.filter(F.col("__kid") != first_id)
        .select("__kid", "__kv", "__kn", _dist_to(first_rows[0]["__kv"]).alias("__md"))
        .persist()
    )
    prev = None
    try:
        for rank in range(2, k + 1):
            pick = (
                cur.orderBy(F.col("__md").desc(), F.col("__kid").asc())
                .limit(1)
                .collect()
            )
            # the global top-1 scan materialized every partition of
            # `cur` into its persist — the parent frame is now safe
            # to release without forcing a lineage recompute
            if prev is not None:
                prev.unpersist()
                prev = None
            if not pick:
                break
            row = pick[0]
            cid = int(row["__kid"])
            out.append(
                (
                    rank,
                    cid,
                    None if row["__md"] is None else float(row["__md"]),
                )
            )
            if rank < k:
                cvec = [float(x) for x in row["__kv"]]
                prev = cur
                cur = (
                    cur.filter(F.col("__kid") != cid)
                    .select(
                        "__kid",
                        "__kv",
                        "__kn",
                        F.least(F.col("__md"), _dist_to(cvec)).alias(
                            "__md"
                        ),
                    )
                    .persist()
                )
    finally:
        cur.unpersist()
        if prev is not None:
            prev.unpersist()
    return spark.createDataFrame(out, schema)


def cosine_range_search(
    emb: DataFrame,
    queries: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """All corpus neighbors with cosine >= threshold per query vector.

    The radius-query sibling of ``brute_force_topk``: broadcast the
    (small, pre-normalized) query set, scan the corpus once, keep pairs
    clearing the threshold — applied to the 4dp-ROUNDED similarity so
    an engine-level ulp difference cannot move a pair across the cut.
    With broadcast queries and no ranking window this is entirely
    map-side: zero shuffle, scales linearly in corpus size.
    """

    q = _normed_projection(queries, vec_col, id_col, "query_id")
    c = _normed_projection(emb, vec_col, id_col, "neighbor_id")
    score = dot(F.col("query_id_v"), F.col("neighbor_id_v"))
    scored = _score(c.crossJoin(F.broadcast(q)), score, "cos_sim")
    return scored.filter(F.col("cos_sim") >= threshold)


def embedding_stats(
    emb: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label embedding-column health stats: vector count, L2-norm
    avg/min/max and first-dimension mean — the sanity scan run before
    any similarity pass (catches unnormalized / degenerate / collapsed
    batches). Per-vector norms round to 4dp BEFORE aggregating so both
    engines aggregate identical values. One low-cardinality shuffle
    with map-side partial aggregation.
    """
    v = as_double_array(F.col(vec_col))
    per_vec = emb.select(
        F.col(label_col).alias("label"),
        round_half_up(norm(v), 4).alias("__nrm"),
        F.element_at(v, 1).alias("__d0"),
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        round_half_up(F.avg("__nrm"), 4).alias("avg_norm"),
        round_half_up(F.min("__nrm"), 4).alias("min_norm"),
        round_half_up(F.max("__nrm"), 4).alias("max_norm"),
        round_half_up(F.avg("__d0"), 4).alias("avg_dim0"),
    )


def ann_lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's LSH
    bucket. Same output contract as ``brute_force_topk`` (approximate
    recall); candidate generation is an equi-join on bucket id."""
    sig = lambda c: hyperplane_signature(c, dim, n_planes, seed)  # noqa: E731
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_array(F.col(vec_col)).alias("qv"),
        sig(F.col(vec_col)).alias("bucket"),
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(F.col(vec_col)).alias("cv"),
        sig(F.col(vec_col)).alias("bucket"),
    )
    score = cosine(F.col("qv"), F.col("cv"))
    scored = _score(c.join(F.broadcast(q), "bucket"), score, "cos_sim")
    return _topk_per_query(scored, "cos_sim", k)


def dim_bounds(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """1-row (__mins, __maxs) array frame of per-dimension corpus
    bounds: posexplode → groupBy(dim) min/max (map-side partial agg
    into a dim-row result) → sort_array(collect_list) fold. Broadcast
    by the quantize/dequantize consumers so their per-vector pass is
    map-only."""
    xd = F.col("__x").cast("double")
    pe = emb.select(F.posexplode(as_double_array(F.col(vec_col))).alias("__d", "__x"))
    return (
        pe.groupBy("__d")
        .agg(F.min(xd).alias("mn"), F.max(xd).alias("mx"))
        .agg(F.sort_array(F.collect_list(F.struct("__d", "mn", "mx"))).alias("s"))
        .select(
            F.expr("transform(s, p -> p.mn)").alias("__mins"),
            F.expr("transform(s, p -> p.mx)").alias("__maxs"),
        )
    )


def scalar_quantize(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    levels: int = 256,
    bounds: DataFrame | None = None,
) -> DataFrame:
    """Per-dimension scalar quantization (SQ8 when ``levels=256``):
    code_d = clamp(floor((x_d - min_d) * (levels-1) / (max_d - min_d)
    + 0.5)) — the storage/recall trade every vector store ships
    (FAISS ScalarQuantizer): 64 float32 dims become 64 uint8 codes, a
    4× footprint cut before any index structure.

    Scale shape: the per-dimension (min, max) bounds are one
    posexplode + groupBy(dim) aggregate — map-side partial agg into a
    ``dim``-row result — collected into two array literals via a
    1-row sort_array(collect_list) and **broadcast** back, so the
    quantization pass itself is map-only over the corpus (zero
    shuffle per vector). Constant dims (min == max) code to 0.

    Output: (id, codes array<int>, codes_csv string) — the csv column
    is the engine-portable value-check surface.
    """
    barr = bounds if bounds is not None else dim_bounds(emb, vec_col)
    codes = F.expr(
        f"""
        zip_with(
          zip_with(cast({vec_col} as array<double>), __mins, (x, mn) -> x - mn),
          zip_with(__maxs, __mins, (mx, mn) -> mx - mn),
          (ctr, rng) -> CASE WHEN rng <= 0.0D THEN 0
            ELSE CAST(least({float(levels - 1)}D,
                            greatest(0.0D, floor(ctr * {float(levels - 1)}D / rng + 0.5D)))
                      AS INT) END)
        """
    )
    return (
        emb.join(F.broadcast(barr))
        .select(F.col(id_col), codes.alias("codes"))
        .select(
            id_col,
            "codes",
            F.array_join(F.col("codes"), ",").alias("codes_csv"),
        )
    )


def ann_topk_sq8(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    levels: int = 256,
) -> DataFrame:
    """Asymmetric top-k search over the SQ8-quantized corpus: queries
    stay full-precision floats, corpus vectors are reconstructed from
    their :func:`scalar_quantize` codes (x̂_d = mn_d + code_d · rng_d /
    (levels-1)) — the ADC scheme every SQ-backed index uses (quantize
    once at build, never the queries).

    Same distributed shape as :func:`brute_force_topk` — broadcast
    query set, one corpus scan, per-query window — but the corpus
    payload per vector is ``dim`` uint8 codes instead of ``dim``
    float32s: the 4× scan/shuffle-width cut is the point at 100 TB.
    Scores differ from exact cosine by quantization error (recall is
    bounds-dependent) but the whole pipeline is DETERMINISTIC — SQ8
    has no trained state — so the ``ann_sq8`` registry key carries a
    full DuckDB value oracle restating the same clamp/floor math;
    recall-vs-exact stays pytest-pinned.
    """
    barr = dim_bounds(emb, vec_col)
    codes = scalar_quantize(emb, vec_col, id_col, levels, bounds=barr).select(
        id_col, "codes"
    )
    span = float(levels - 1)
    # reconstruction: mn + code * rng / span — expressed as one
    # two-level zip_with so the per-row work stays inside codegen
    recon = F.expr(
        f"""
        zip_with(
          zip_with(codes, __mins, (c, mn) -> named_struct('c', CAST(c AS DOUBLE), 'mn', mn)),
          zip_with(__maxs, __mins, (mx, mn) -> mx - mn),
          (p, rng) -> p.mn + p.c * rng / {span}D)
        """
    )
    dequant = codes.join(F.broadcast(barr)).select(
        F.col(id_col), recon.alias(vec_col)
    )
    return brute_force_topk(dequant, queries, k, vec_col, id_col).select(
        "query_id",
        "neighbor_id",
        F.col("cos_sim").alias("cos_sim_sq8"),
        "rnk",
    )


# --------------------------------------------------------------------------
# Product quantization (PQ) — the m-subspace generalization of SQ8
# --------------------------------------------------------------------------


def pq_codebooks(
    emb: DataFrame,
    dim: int,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    sample_cap: int = 4096,
    iters: int = 8,
    seed: int = 7,
) -> "list[list[list[float]]]":
    """Train PQ codebooks: ``m`` subspaces × ``k`` centroids each over
    the unit-normalized corpus (Jégou et al. 2011). Vectors are split
    into ``m`` contiguous ``dim/m``-wide subvectors; each subspace gets
    its own small L2 Lloyd run. The code footprint per vector is then
    ``m`` small ints (m=8,k=16 → 4 bytes) versus ``dim`` float32s — a
    64× cut, the compression tier below SQ8's 4×.

    Training is a bounded-sample driver problem exactly like
    :func:`kmeans_centroids` (codebooks are m×k×(dim/m) floats — a few
    KB shipped back as plan literals); encoding and search — the
    O(corpus) parts — stay fully distributed AND fully JVM-side (see
    :func:`pq_encode`: the codebooks become nested array literals, so
    neither pass crosses the Python boundary per row).

    Seeds per subspace are drawn by the same LCG-permutation scheme as
    the IVF trainer (reproducible across numpy versions); empty
    clusters keep their previous centroid.
    """
    if dim % m != 0:
        raise ValueError(f"pq_codebooks: dim {dim} not divisible by m {m}")
    mat = _fetch_unit_sample(emb, vec_col, sample_cap, who="pq_codebooks")
    return _lloyd_subspaces(mat, m, k, iters, seed)


def _fetch_unit_sample(
    emb: DataFrame, vec_col: str, sample_cap: int, who: str
) -> "np.ndarray":
    """Deterministic unit-normalized driver sample (first ``sample_cap``
    rows by id) shared by the k-means, PQ and IVF-PQ trainers."""
    import numpy as np

    id_col = "vec_id" if "vec_id" in emb.columns else emb.columns[0]
    sample = (
        emb.select(as_double_array(F.col(vec_col)).alias("v"), F.col(id_col).alias("i"))
        .orderBy("i")
        .limit(sample_cap)
        .toPandas()
    )
    if len(sample) == 0:
        raise ValueError(f"{who}: empty embedding table")
    mat = np.array([np.asarray(v, dtype=np.float64) for v in sample["v"]])
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return mat / norms


def _lloyd_subspaces(
    mat: "np.ndarray", m: int, k: int, iters: int, seed: int
) -> "list[list[list[float]]]":
    """Per-subspace L2 Lloyd over an in-memory sample matrix: the
    shared PQ trainer (raw unit vectors or IVF residuals — the caller
    decides what ``mat`` holds). LCG-permutation seeding, empty
    clusters keep their previous centroid."""
    dsub = mat.shape[1] // m
    books: list[list[list[float]]] = []
    for s in range(m):
        sub = mat[:, s * dsub : (s + 1) * dsub]
        cents = sub[_lcg_order(seed + 31 * s, len(sub), k)].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(cents)):
                members = sub[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append(cents.tolist())
    return books


def _pq_literal(books: "list[list[list[float]]]") -> str:
    """Nested SQL array literal for the codebooks (CB[s][c][d])."""
    def arr(xs) -> str:
        if xs and isinstance(xs[0], list):
            return "array(" + ", ".join(arr(x) for x in xs) + ")"
        return "array(" + ", ".join(f"{float(x)!r}D" for x in xs) + ")"

    return arr(books)


def pq_encode(
    emb: DataFrame,
    books: "list[list[list[float]]]",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: "list[list[float]] | None" = None,
    out_id: str | None = None,
) -> DataFrame:
    """Encode each vector as its per-subspace nearest-centroid codes;
    with ``centroids`` given, also assigns the IVF coarse cell and
    encodes the RESIDUAL to that cell's centroid (the IVFPQ layout).

    Arrow-batched numpy: one gemm per (batch × subspace) computes all
    centroid distances at once — measured ~10× faster than the
    first-cut pure-Catalyst formulation (nested higher-order
    functions evaluate INTERPRETED per element in Spark, ~2.5 ms/row
    at m=16; the vectorized batch is the same boundary-crossing
    pattern as ivf_assign/multimodal). Map-only, zero shuffle — at
    100 TB the encode parallelizes with the scan and writes ``m``
    small ints (+ a cell id) per vector.

    Argmin ties break to the lowest centroid index (numpy first-min),
    matching the ntile/struct-sort convention elsewhere.

    Output: (id, [cell,] codes array<int> length m, codes_csv).
    """
    import numpy as np
    import pandas as pd

    B = np.array(books, dtype=np.float64)  # m × k × dsub
    C = np.array(centroids, dtype=np.float64) if centroids is not None else None
    m, _kk, dsub = B.shape
    out = out_id or id_col
    with_cell = C is not None
    fields = f"{out} long, " + ("cell int, " if with_cell else "") + "codes array<int>"

    def enc(batches):
        # squared-distance argmin via the expanded form: ||r||² is
        # constant per row, so argmin(-2 r·c + ||c||²) suffices
        cnorm = (B ** 2).sum(axis=2)  # m × k
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            mat = mat / norms
            res = mat
            data = {out: pdf[id_col].to_numpy()}
            if with_cell:
                cells = (mat @ C.T).argmax(axis=1)
                res = mat - C[cells]
                data["cell"] = cells.astype("int32")
            codes = np.empty((len(mat), m), dtype=np.int32)
            for s in range(m):
                sub = res[:, s * dsub : (s + 1) * dsub]
                codes[:, s] = (-2.0 * (sub @ B[s].T) + cnorm[s][None, :]).argmin(axis=1)
            data["codes"] = list(codes.tolist())
            yield pd.DataFrame(data)

    src = emb.select(F.col(id_col), F.col(vec_col))
    return src.mapInPandas(enc, schema=fields).select(
        "*", F.array_join(F.col("codes"), ",").alias("codes_csv")
    )


def _adc_score(m: int, stride: int, codes: str = "codes", lut: str = "lut") -> Column:
    """ADC score Σ_s lut[s·stride + codes[s] + 1] as the interpreted
    sequential fold. An unrolled 16-term element_at chain (the
    :func:`_d2_unrolled` treatment) was tried here and REVERTED (r17):
    measured 0.90× interleaved on BOTH ann_pq and ann_ivf_pq at sf0.1
    — each term nests two null-checked element_at calls, and the
    generated method grows past what JIT rewards, unlike the 4-term
    flat-arithmetic d2 unroll (1.44×). The fold stays the fastest
    measured form for this expression."""
    return F.expr(
        f"""
        aggregate(
          zip_with({codes}, sequence(0, {m - 1}), (c, s) ->
            element_at({lut}, s * {stride} + c + 1)),
          0D, (acc, x) -> acc + x)
        """
    )


def _pq_lut_expr(cb_literal: str, m: int, k: int, dsub: int, qv: str = "qv") -> str:
    """SQL for the per-query ADC lookup table: lut[s*k + c + 1] =
    dot(query subvector s, codebook[s][c]). Computed ONCE per query
    row (a handful), so the per-candidate score is pure lookups."""
    return f"""
        flatten(transform(sequence(0, {m - 1}), s ->
          transform(element_at({cb_literal}, s + 1), c ->
            aggregate(zip_with(slice({qv}, s * {dsub} + 1, {dsub}), c,
                               (a, b) -> a * b),
                      0D, (acc, x) -> acc + x))))
    """


def _unit_projection(df: DataFrame, vec_col: str, id_col: str, out_id: str) -> DataFrame:
    """(out_id, __unit) L2-normalized projection (norm-0 passthrough)."""
    v = as_double_array(F.col(vec_col))
    step = df.select(F.col(id_col).alias(out_id), v.alias("__v"), norm(v).alias("__n"))
    return step.select(
        out_id,
        F.when(F.col("__n") > 0, F.transform(F.col("__v"), lambda e: e / F.col("__n")))
        .otherwise(F.col("__v"))
        .alias("__unit"),
    )


def ann_topk_pq(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 16,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric top-k search over the PQ-encoded corpus (ADC).

    Queries stay full-precision; each corpus vector's score is the sum
    over subspaces of dot(query subvector, centroid[code]) — with the
    corpus unit-normalized at encode time this approximates cosine to
    within per-subspace quantization error. The scan reads only the
    m-int codes column: at 100 TB the ADC pass touches m bytes per
    vector where the exact scan reads 4·dim (16× less at the m=16,
    dim=64 defaults).

    Index-build / search split (how every PQ store actually runs):
    the :func:`pq_encode` output is persisted (tracked — release via
    ``caching.release_cached()``) as the index artifact, then scoring
    uses a per-query LOOKUP TABLE (:func:`_pq_lut_expr`, m×k dots
    computed once per query) so each candidate costs m element_at
    lookups, not m×dsub multiplies — the classic ADC LUT trick.

    Same distributed shape as :func:`brute_force_topk`: broadcast
    query set, one corpus scan, per-query window for rank. Rows-only
    operator — scores carry quantization error by design; determinism
    and recall-vs-exact are pytest-pinned (mirroring ann_sq8).
    """
    from . import caching

    first = emb.select(as_double_array(F.col(vec_col)).alias("v")).first()
    dim = len(first["v"]) if first and first["v"] is not None else m
    books = pq_codebooks(emb, dim, m=m, k=n_centroids, vec_col=vec_col)
    # stride must be the TRAINED codebook length, not the requested k:
    # a sample smaller than n_centroids trains shorter books, and the
    # flattened LUT's segments have the actual length — indexing with
    # the requested k would read the wrong segment for every s >= 1
    stride = len(books[0])
    dsub = dim // m
    cb = _pq_literal(books)
    codes = caching.persist_tracked(
        pq_encode(emb, books, vec_col, id_col, out_id="neighbor_id").select(
            "neighbor_id", "codes"
        )
    )
    q = _unit_projection(queries, vec_col, id_col, "query_id").select(
        "query_id",
        F.expr(_pq_lut_expr(cb, m, n_centroids, dsub, qv="__unit")).alias("lut"),
    )
    scored = _score(codes.crossJoin(F.broadcast(q)), _adc_score(m, stride), "pq_score")
    return _topk_per_query(scored, "pq_score", k)


def _subvectors(
    df: DataFrame, vec: str, out: str, m: int, dsub: int, *keep: "str | Column"
) -> DataFrame:
    """(*keep, s, out): ``vec`` cut into its ``m`` contiguous
    ``dsub``-wide subvectors, one row per subspace ``s``."""
    rows = df.select(*keep, F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("s"), vec)
    return rows.select(
        *rows.columns[:-1], F.slice(F.col(vec), F.col("s") * dsub + 1, dsub).alias(out)
    )


def _pq_encode_seeded(
    src: DataFrame,
    vec: str,
    sub: str,
    keep: "tuple[str, ...]",
    book: DataFrame,
    code: str,
    m: int,
    dsub: int,
    out: str,
) -> DataFrame:
    """(*keep, out): the seeded twins' PQ encode. ``src``'s ``vec`` is
    cut into subvectors ``sub``; per (vid, s) the codeword of ``book``
    (s, ``code``, cw) at the least squared L2 distance, rounded to 9dp
    BEFORE the rank with ties to the lower ``code``, is the code; the
    chosen codewords flattened in subspace order are ``out``. The
    column names are the caller's, so each twin keeps its own plan.

    NOTE (r17): a min(struct(__d2, code)) aggregate was tried for the
    argmin (VERDICT r16 #5) and REVERTED — Spark plans min over a
    struct as a SortAggregate (the agg buffer is not
    mutable-fixed-width), so it re-sorts by (vid, s) exactly like the
    window while paying two aggregate passes: measured 0.94×
    interleaved at sf0.1. The row_number window already runs under
    WindowGroupLimit (partial top-1 per partition before the
    exchange), which is the efficient shape for this argmin."""
    w = Window.partitionBy("vid", "s").orderBy(F.col("__d2").asc(), F.col(code).asc())
    codes = (
        _subvectors(src, vec, sub, m, dsub, *keep)
        .join(F.broadcast(book), "s")
        .select(
            *keep,
            "s",
            code,
            round_half_up(_d2_unrolled(F.col(sub), F.col("cw"), dsub), 9).alias("__d2"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*keep, "s", code)
    )
    return (
        codes.join(F.broadcast(book), ["s", code])
        .groupBy(*keep)
        .agg(
            F.flatten(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("s", "cw"))),
                    lambda p: p["cw"],
                )
            ).alias(out)
        )
    )


def ann_pq_seeded_topk(
    emb: DataFrame,
    queries: DataFrame,
    dim: int = 64,
    m: int = 16,
    n_seeds: int = 16,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ encode + ADC search with DETERMINISTIC seed codebooks — the
    oracle-bearing twin of :func:`ann_topk_pq`: per subspace, the
    ``n_seeds`` codewords are the ``n_seeds`` lowest-id vectors' unit
    subvectors (no Lloyd), so encode (per-subspace L2 argmin), the code
    table, and the ADC score all restate in SQL. Both engines compute
    the subspace distance as the SAME ordered fold (diff array → dot
    with itself) and the ADC score as ONE ordered 64-dim fold over the
    flattened reconstruction (Σ_s dot(q_s, cw_s) = dot(q, concat(cw))
    exactly), so scores hash-match at 4dp; distances round to 9dp
    before the argmin rank with codeword-id tie-break
    (round-before-compare). Production PQ keys keep trained codebooks
    and the LUT fast path; this twin value-gates the encode/ADC math.

    Pure Catalyst long form: vectors explode to ``m`` subvector rows,
    codewords broadcast (m · n_seeds rows), the argmin is a window
    over the (vector, subspace) grain — high-cardinality keys, no
    global window, shuffle ∝ corpus · m.
    """
    from . import caching

    dsub = dim // m
    # persisted (r17, guide §5): u feeds the subspace explode, the
    # seed lookup, and the recon score join; un-persisted, the twin's
    # physical plan scanned the embeddings parquet 6× re-deriving the
    # norm projection each time. Released per key by the caller.
    u = caching.persist_tracked(_unit_projection(emb, vec_col, id_col, "vid"))
    seeds = (
        _subvectors(u, "__unit", "sub", m, dsub, "vid")
        .join(F.broadcast(_lowest_ids(u, "vid", n_seeds)), "vid")
        .select(F.col("s"), F.col("vid").alias("cid"), F.col("sub").alias("cw"))
    )
    recon = _pq_encode_seeded(u, "__unit", "sub", ("vid",), seeds, "cid", m, dsub, "recon")
    q = _unit_projection(queries, vec_col, id_col, "query_id")
    cand = recon.withColumnRenamed("vid", "neighbor_id").crossJoin(F.broadcast(q))
    scored = _score(cand, dot(F.col("__unit"), F.col("recon")), "pq_score")
    return _topk_per_query(scored, "pq_score", k)


def embedding_cov_quantized(
    emb: DataFrame,
    dim: int = 64,
    scale: float = 1.0e6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact covariance of the 1e-6-QUANTIZED embeddings, upper
    triangle in long form (i, j, cov_q 6dp) — the oracle-bearing gate
    for the covariance assembly feeding the PCA/OOD family.

    Trick: each coordinate quantizes to an integer
    ``floor(x·1e6 + 0.5)`` FIRST, so every sum the covariance needs
    (Σx_i, Σx_i·x_j) is a BIGINT sum — exact in any addition order,
    which removes the float-summation-order divergence that keeps
    float covariance engine-specific (Spark's partial aggregation and
    DuckDB's sequential scan add in different orders; integers don't
    care). The float math that remains — two divisions, one multiply,
    one subtract per cell, from the SAME exact integers — is
    bit-deterministic. Products fit comfortably: |x| ≲ 10 →
    |xq| ≲ 1e7 → |xq·yq| ≲ 1e14, × corpus rows ≪ 2⁶³ up to ~10¹⁸/10¹⁴
    rows per cell.

    Scale shape: one posexplode (corpus × dim rows), a self-join on
    the vector id (co-partitioned explode output — one shuffle), and
    a map-side-combining sum into dim·(dim+1)/2 cells. The production
    float path (:func:`_mean_cov`'s numpy partials) stays the fast
    form; this gate pins the assembly math it implements.
    """
    xq = F.floor(F.col("__x") * F.lit(scale) + F.lit(0.5)).cast("long")
    x = emb.select(
        F.col(id_col).alias("__vid"),
        F.posexplode(as_double_array(F.col(vec_col))).alias("__d", "__x"),
    ).select("__vid", F.col("__d"), xq.alias("__xq"))
    n = emb.count()
    s1 = x.groupBy("__d").agg(F.sum("__xq").alias("sx"))
    a = x.select(
        F.col("__vid"), F.col("__d").alias("i"), F.col("__xq").alias("xa")
    )
    b = x.select(
        F.col("__vid"), F.col("__d").alias("j"), F.col("__xq").alias("xb")
    )
    s2 = (
        a.join(b, "__vid")
        .filter(F.col("j") >= F.col("i"))
        .groupBy("i", "j")
        .agg(F.sum(F.col("xa") * F.col("xb")).alias("sxy"))
    )
    nn = F.lit(float(n))
    cov = (
        F.col("sxy").cast("double") / nn
        - (F.col("si").cast("double") / nn) * (F.col("sj").cast("double") / nn)
    ) / F.lit(scale * scale)
    return (
        s2.join(F.broadcast(s1.select(F.col("__d").alias("i"), F.col("sx").alias("si"))), "i")
        .join(F.broadcast(s1.select(F.col("__d").alias("j"), F.col("sx").alias("sj"))), "j")
        .select("i", "j", round_half_up(cov, 6).alias("cov_q"))
    )


def ivfpq_residual_codebooks(
    emb: DataFrame,
    centroids: "list[list[float]]",
    m: int = 16,
    k: int = 16,
    vec_col: str = "embedding",
    sample_cap: int = 4096,
    iters: int = 8,
    seed: int = 8,
) -> "list[list[list[float]]]":
    """PQ codebooks trained on IVF RESIDUALS (x̂ = x - centroid[cell])
    — the FAISS IVFPQ recipe: residuals concentrate around the origin
    once the coarse quantizer has soaked up the between-cluster
    structure, so the same PQ bit budget quantizes them with far less
    error than raw vectors. Bounded-sample driver training like every
    other trainer here; assignment/encode stay distributed."""
    import numpy as np

    mat = _fetch_unit_sample(emb, vec_col, sample_cap, who="ivfpq_residual_codebooks")
    cents = np.array(centroids, dtype=np.float64)
    assign = (mat @ cents.T).argmax(axis=1)
    residuals = mat - cents[assign]
    return _lloyd_subspaces(residuals, m, k, iters, seed)


def ann_topk_ivfpq(
    emb: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_cells: int = 16,
    m: int = 16,
    n_centroids: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """IVF-PQ approximate top-k — the composition that caps the ANN
    family (FAISS's production index shape): a coarse quantizer routes
    every vector to one of ``n_cells`` inverted lists, PQ encodes the
    RESIDUAL to the cell centroid, and a query scores only the
    ``n_probe`` nearest cells via dot(q, centroid) + ADC over the
    residual codes.

    Index build = ONE Arrow-batched :func:`pq_encode` pass (cell
    assignment + residual codes in the same gemm batch), persisted
    (tracked) as the index artifact. Search is JVM-only: probe cells
    come from an argmax over the centroid literal, each probe row
    precomputes its residual LUT plus dot(q, centroid[cell]) once,
    and every candidate then costs m element_at lookups. A first-cut
    all-Catalyst encode was measured ~5× slower end-to-end (nested
    higher-order functions evaluate interpreted per element and the
    unpersisted encode re-ran across join/window stages) — the
    build/search split IS the production shape anyway.

    Scale shape: candidate generation is the IVF equi-join on cell id
    (shuffle ∝ corpus, tunable by n_probe/n_cells) and the per-vector
    candidate payload is ``m`` small ints + a cell id instead of
    ``dim`` floats — both the IVF scan cut AND the PQ byte cut at
    once. Rows-only operator: scores carry coarse + residual
    quantization error; determinism and recall-vs-exact are
    pytest-pinned.
    """
    from . import caching

    cents = kmeans_centroids(emb, dim, n_cells=n_cells, vec_col=vec_col, seed=seed)
    books = ivfpq_residual_codebooks(
        emb, cents, m=m, k=n_centroids, vec_col=vec_col, seed=seed + 1
    )
    stride = len(books[0])  # actual trained length (see ann_topk_pq)
    cent_lit = _pq_literal(cents)
    cb = _pq_literal(books)
    dsub = dim // m
    corpus = caching.persist_tracked(
        pq_encode(
            emb, books, vec_col, id_col, centroids=cents, out_id="neighbor_id"
        ).select("neighbor_id", "cell", "codes")
    )
    cell_rank = f"""
        array_sort(transform({cent_lit}, (c, ci) ->
          named_struct(
            'd', -aggregate(zip_with(__unit, c, (a, b) -> a * b),
                            0D, (acc, x) -> acc + x),
            'ci', ci)))
    """
    probes = (
        _unit_projection(queries, vec_col, id_col, "query_id")
        .select(
            "query_id",
            "__unit",
            F.explode(
                F.expr(f"transform(slice({cell_rank}, 1, {n_probe}), p -> p.ci)")
            ).alias("cell"),
        )
        .select(
            "query_id",
            "cell",
            # dot(q, centroid[cell]) once per probe row, not per candidate
            F.expr(
                f"""aggregate(zip_with(__unit, element_at({cent_lit}, cell + 1),
                              (a, b) -> a * b), 0D, (acc, x) -> acc + x)"""
            ).alias("cdot"),
            F.expr(_pq_lut_expr(cb, m, n_centroids, dsub, qv="__unit")).alias("lut"),
        )
    )
    # cdot + unrolled ADC chain (r17): _adc_score returns the complete
    # 0.0-seeded left-to-right sum, and cdot is added to that finished
    # value — the identical grouping the old cdot + aggregate(...) had.
    score = F.col("cdot") + _adc_score(m, stride)
    scored = _score(corpus.join(F.broadcast(probes), "cell"), score, "ivfpq_score")
    return _topk_per_query(scored, "ivfpq_score", k)


def ann_ivfpq_seeded_topk(
    emb: DataFrame,
    queries: DataFrame,
    dim: int = 64,
    m: int = 16,
    n_seeds: int = 16,
    n_probe: int = 4,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ with DETERMINISTIC seed state — the oracle-bearing twin
    of :func:`ann_topk_ivfpq`, completing the ANN twin matrix (LSH /
    IVF / SQ8 / PQ / IVF-PQ all value-gated): coarse cells are the
    ``n_seeds`` lowest-id unit vectors, and the RESIDUAL codewords per
    subspace are the residuals of the NEXT ``n_seeds`` lowest-id
    vectors (the seeds' own residuals are zero by construction, so
    they can't serve as a codebook). Everything —
    cell assignment (6dp round-before-rank), residual computation,
    per-subspace L2-argmin encode (9dp), and the two-term ADC score
    dot(q, centroid) + dot(q, concat(residual codewords)) — restates
    in SQL with the same ordered folds, so scores hash-match at 4dp.
    Production ann_ivf_pq keeps trained residual codebooks + the LUT
    fast path; this twin value-gates the residual-quantization math.
    """
    from . import caching

    dsub = dim // m
    # r17 (guide §5): the unit projection and the residual frame feed
    # MANY consumers each (seeds, both cell-assignment passes, the
    # codeword slice, the encode slice, the probe side) and Spark
    # reuses none of the identical subtrees — the un-persisted twin's
    # physical plan scanned the embeddings parquet 29 TIMES, each scan
    # re-deriving the norm projection (and for ``resid`` consumers the
    # whole assignment window chain). Two tracked persists collapse
    # that to one scan + one window pass; released per key via
    # caching.release_cached().
    u = caching.persist_tracked(_unit_projection(emb, vec_col, id_col, "vid"))
    seed_ids = _lowest_ids(u, "vid", n_seeds)
    seeds = u.join(F.broadcast(seed_ids), "vid").select(
        F.col("vid").alias("cid"), F.col("__unit").alias("su")
    )

    def cells(side: DataFrame, out_id: str, n: int) -> DataFrame:
        sims = side.crossJoin(F.broadcast(seeds)).select(
            F.col("vid").alias(out_id),
            "cid",
            round_half_up(dot(F.col("__unit"), F.col("su")), 6).alias("__sim"),
        )
        w = Window.partitionBy(out_id).orderBy(
            F.col("__sim").desc(), F.col("cid").asc()
        )
        return (
            sims.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= n)
            .select(out_id, F.col("cid").alias("cell"))
        )

    # residual of every vector to its own cell centroid (persisted —
    # see the note above: 3 downstream consumers, each of which would
    # otherwise re-run the corpus-grain assignment window)
    resid = caching.persist_tracked(
        cells(u, "vid", 1)
        .join(u, "vid")
        .join(F.broadcast(seeds.withColumnRenamed("cid", "cell")), "cell")
        .select(
            "vid",
            "cell",
            F.zip_with(F.col("__unit"), F.col("su"), lambda a, b: a - b).alias(
                "res"
            ),
        )
    )
    # residual codewords: subvectors of the NEXT n_seeds lowest-id
    # vectors (lowest 2n minus the seed set; raw id as the codeword
    # id — never exposed in the output, only argmin tie-break + join)
    cw_ids = _lowest_ids(u, "vid", 2 * n_seeds).join(
        F.broadcast(seed_ids), "vid", "left_anti"
    )
    ccode = F.col("vid").cast("int").alias("ccode")
    cw = _subvectors(resid.join(F.broadcast(cw_ids), "vid"), "res", "cw", m, dsub, ccode)
    recon = _pq_encode_seeded(
        resid, "res", "rsub", ("vid", "cell"), cw, "ccode", m, dsub, "rrecon"
    )
    q = _unit_projection(queries, vec_col, id_col, "query_id")
    probes = cells(
        u.join(queries.select(F.col(id_col).alias("vid")), "vid"),
        "query_id",
        n_probe,
    ).join(q, "query_id")
    cand = (
        recon.withColumnRenamed("vid", "neighbor_id")
        .join(F.broadcast(probes), "cell")
        .join(F.broadcast(seeds.withColumnRenamed("cid", "cell")), "cell")
    )
    score = dot(F.col("__unit"), F.col("su")) + dot(F.col("__unit"), F.col("rrecon"))
    scored = _score(cand, score, "ivfpq_score")
    return _topk_per_query(scored, "ivfpq_score", k)


def _mean_cov(
    emb: DataFrame, dim: int, vec_col: str, caller: str
) -> "tuple[int, 'np.ndarray', 'np.ndarray']":
    """Distributed (n, mean, population covariance) of an embedding
    column — the shared DATA-scale phase of :func:`pca_variance` and
    :func:`pca_project`: one narrow ``mapInPandas`` pass emits per-
    batch (count, column-sum, Gram) partials via a single ``X.T @ X``
    gemm, so only ``partitions × (dim + dim²)`` floats reach the
    driver, never the vectors. Partials reduce in a pinned sort order
    (the Gram payload included in the key) so float summation is
    deterministic across partition arrival orders.
    """
    import numpy as np
    import pandas as pd

    def partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
            )
            yield pd.DataFrame(
                {
                    "n": [len(x)],
                    "s": [list(x.sum(axis=0))],
                    "g": [list((x.T @ x).ravel())],
                }
            )

    src = emb.select(as_double_array(F.col(vec_col)).alias("v"))
    rows = src.mapInPandas(
        partials, schema="n long, s array<double>, g array<double>"
    ).collect()
    if not rows:
        raise ValueError(f"{caller}: empty embedding table")
    # pin the reduce order so float summation is deterministic across
    # collect orderings (partition arrival order is not guaranteed);
    # the Gram payload is part of the key — two partitions can share
    # (n, s) yet differ in g, which would leave the order ambiguous
    rows = sorted(
        rows, key=lambda r: (r["n"], tuple(r["s"]), tuple(r["g"]))
    )
    n = sum(r["n"] for r in rows)
    s = np.zeros(dim)
    g = np.zeros((dim, dim))
    for r in rows:
        s += np.asarray(r["s"], dtype=np.float64)
        g += np.asarray(r["g"], dtype=np.float64).reshape(dim, dim)
    mu = s / n
    cov = g / n - np.outer(mu, mu)
    return n, mu, cov


def pca_variance(
    emb: DataFrame,
    dim: int,
    top_k: int = 8,
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed PCA variance spectrum: the top-``top_k``
    eigenvalues of the embedding covariance matrix with explained /
    cumulative variance ratios — the embedding-QA readout that tells
    you how many effective dimensions the space uses (anisotropy /
    collapsed-embedding detection, and the k choice for a dim-reduce).

    Scale shape — the classic two-phase distributed linear algebra
    split: the DATA-scale phase is one narrow ``mapInPandas`` pass
    emitting, per Arrow batch, the (count, column-sum, Gram-matrix)
    partials via a single ``X.T @ X`` gemm — what reaches the driver
    is ``partitions × (dim + dim²)`` floats (metadata scale, same
    framing as the IVF training collects), never the vectors. The
    driver reduces partials in a pinned sort order (deterministic
    float summation), forms the population covariance
    ``G/n − μμᵀ``, and solves the ``dim × dim`` eigenproblem in
    numpy — O(dim³) on 64 dims is microseconds. Output rows: top_k.

    Rows-only by design (eigensolves aren't SQL-expressible);
    determinism and a numpy-reference parity test are pytest-pinned.
    """
    import numpy as np

    n, mu, cov = _mean_cov(emb, dim, vec_col, caller="pca_variance")
    evals = np.linalg.eigvalsh(cov)[::-1]  # ascending -> descending
    total = float(evals.sum())
    out = []
    cum = 0.0
    for i in range(min(top_k, dim)):
        ev = float(evals[i])
        cum += ev
        out.append(
            (
                i + 1,
                round(ev, 6),
                round(ev / total, 6),
                round(cum / total, 6),
            )
        )
    return emb.sparkSession.createDataFrame(
        out,
        "component INT, eigenvalue DOUBLE, explained_ratio DOUBLE, "
        "cum_ratio DOUBLE",
    )


def semdedup(
    emb: DataFrame,
    cluster_col: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.3,
    n_blocks: int = 4,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by
    dropping near-identical embeddings WITHIN clusters.

    The paper clusters the corpus (k-means) precisely so the O(N²)
    pairwise cosine only runs inside each cluster; this operator takes
    the cluster assignment as a column (k-means via
    :func:`kmeans_centroids` + :func:`ivf_assign`, or any upstream
    label) and applies the keep rule. Keep rule (deterministic,
    SQL-statable): a vector is DROPPED iff some LOWER-ID vector in the
    same cluster has cosine ≥ threshold with it — the lowest-id member
    of every near-dup set always survives, and the rule needs no
    transitive closure (it is exists-based, one pair scan).

    Scale shape: within-cluster pairs come from the blocked gemm
    (:func:`cosine_neardup_blocked` with ``within=cluster_col``), so
    shuffle is O(N · n_blocks) and per-task memory is bounded by the
    largest cluster's block pair; the dropped-id set is a distinct
    projection of the pair table joined back id-keyed. Null clusters
    never pair (SQL equality semantics) and are always kept.

    Output: (id_col, cluster, kept) — one row per input vector.
    """
    pairs = cosine_neardup_blocked(
        emb,
        vec_col=vec_col,
        id_col=id_col,
        threshold=threshold,
        n_blocks=n_blocks,
        within=cluster_col,
    )
    dropped = (
        pairs.select(F.col("id_b").alias("__did"))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    base = emb.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(cluster_col).alias("cluster"),
    )
    return base.join(
        dropped, base[id_col] == dropped["__did"], "left"
    ).select(
        id_col,
        "cluster",
        F.coalesce(~F.col("__dropped"), F.lit(True)).alias("kept"),
    )


def semdedup_kmeans(
    emb: DataFrame,
    dim: int,
    n_clusters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.3,
    n_blocks: int = 4,
    seed: int = 42,
) -> DataFrame:
    """End-to-end SemDeDup: k-means cluster the embeddings
    (:func:`kmeans_centroids` — deterministic seeded init, driver
    Lloyd over a bounded sample), assign every vector to its nearest centroid
    (:func:`ivf_assign`, map-only against the broadcast centroid
    table), then apply the within-cluster keep rule of
    :func:`semdedup`. Rows-only (k-means isn't SQL-expressible);
    the oracle-checkable twin is ``semdedup_by_label`` which runs the
    identical keep rule on a given assignment.

    Output: (id_col, cluster, kept).
    """
    centroids = kmeans_centroids(
        emb, dim, n_cells=n_clusters, vec_col=vec_col, seed=seed
    )
    assigned = ivf_assign(
        emb, centroids, vec_col=vec_col, id_col=id_col, out_id="__aid"
    )
    src = emb.select(F.col(id_col).cast("long").alias(id_col), F.col(vec_col))
    clustered = src.join(
        assigned.select("__aid", "cell"),
        src[id_col] == F.col("__aid"),
    ).select(id_col, vec_col, F.col("cell").alias("__cluster"))
    return semdedup(
        clustered,
        "__cluster",
        vec_col=vec_col,
        id_col=id_col,
        threshold=threshold,
        n_blocks=n_blocks,
    )


def _exact_rerank(
    emb: DataFrame,
    queries: DataFrame,
    cand: DataFrame,
    k: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Stage 2 of every two-stage retriever: exact full-precision
    cosine over the (query_id, neighbor_id) candidate table, window
    top-k per query. The candidate table is tiny (|Q| × shortlist) and
    BROADCAST against the corpus, so only the candidates' full vectors
    ever leave the scan. Shared by :func:`ann_rerank` (SQ8 stage 1)
    and :func:`ann_matryoshka` (prefix-dim stage 1)."""
    corpus = emb.select(
        F.col(id_col).cast("long").alias("__nid"),
        as_double_array(F.col(vec_col)).alias("__nv"),
    )
    qs = queries.select(
        F.col(id_col).cast("long").alias("__qid"),
        as_double_array(F.col(vec_col)).alias("__qv"),
    )
    j = (
        corpus.join(F.broadcast(cand), corpus["__nid"] == cand["neighbor_id"])
        .join(F.broadcast(qs), F.col("query_id") == F.col("__qid"))
        .select(
            "query_id",
            "neighbor_id",
            round_half_up(cosine(F.col("__qv"), F.col("__nv")), 4).alias(
                "cos_sim"
            ),
        )
    )
    return _topk_per_query(j, "cos_sim", k)


def ann_matryoshka(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shortlist: int = 64,
    prefix_dim: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage retrieval over MATRYOSHKA (MRL-style) embeddings:
    stage 1 scores cosine on only the FIRST ``prefix_dim`` coordinates
    (for MRL-trained embeddings the prefix is itself a valid coarse
    embedding), stage 2 re-ranks the ``shortlist`` survivors with
    exact full-dimension cosine — :func:`_exact_rerank`, the same
    contract as :func:`ann_rerank`.

    Scale shape: stage 1 is the brute-force scan made dim/prefix_dim
    (4× at 64→16) cheaper in BOTH flops and shuffled bytes — the
    prefix slice happens in the scan projection, so only prefix_dim
    doubles per row cross the exchange; stage 2 touches full vectors
    for |Q| × shortlist rows only. Unlike SQ8/PQ there is no trained
    state and no codebook: the "index" is pure column pruning, which
    makes this the cheapest two-stage path to operate at 100 TB (no
    train/encode pipeline to keep in sync with the corpus).

    Output: (query_id, neighbor_id, cos_sim 4dp, rnk) — same contract
    as :func:`brute_force_topk`, so recall pins compare directly.
    """
    pe = emb.select(
        F.col(id_col),
        F.slice(as_double_array(F.col(vec_col)), 1, prefix_dim).alias("__pv"),
    )
    pq = queries.select(
        F.col(id_col),
        F.slice(as_double_array(F.col(vec_col)), 1, prefix_dim).alias("__pv"),
    )
    cand = brute_force_topk(
        pe, pq, k=shortlist, vec_col="__pv", id_col=id_col
    ).select("query_id", "neighbor_id")
    return _exact_rerank(emb, queries, cand, k, vec_col, id_col)


def ann_rerank(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shortlist: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    levels: int = 256,
) -> DataFrame:
    """Two-stage retrieval — the production ANN serving shape: a CHEAP
    approximate pass (SQ8 ADC over uint8 codes, :func:`ann_topk_sq8`)
    shortlists ``shortlist`` candidates per query, then an EXACT
    cosine re-rank over full-precision vectors picks the final top-k.
    Recall at k equals the shortlist's recall (the re-rank is exact
    within it), so quantization error only costs candidates, never
    final ordering — recall rises monotonically with ``shortlist``
    while the expensive exact scoring stays O(queries × shortlist)
    instead of O(queries × corpus).

    Scale shape: stage 1 scans the 4×-narrower code column once;
    stage 2 joins the tiny candidate table (|Q| × shortlist rows,
    BROADCAST) against the corpus — the full-precision vectors of
    only the candidates ever reach the re-ranker, and the final
    window partitions by query (bounded frames).

    Output: (query_id, neighbor_id, cos_sim 4dp, rnk) — same contract
    as :func:`brute_force_topk`, so recall pins compare directly.
    """
    cand = ann_topk_sq8(
        emb, queries, k=shortlist, vec_col=vec_col, id_col=id_col, levels=levels
    ).select("query_id", "neighbor_id")
    return _exact_rerank(emb, queries, cand, k, vec_col, id_col)


def hard_negatives(
    emb: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive hard-negative mining: for each anchor vector, the
    ``k`` most cosine-similar corpus vectors with a DIFFERENT label —
    the pairs a contrastive/metric-learning objective learns most from
    (near-duplicates across the class boundary).

    Scale shape mirrors :func:`brute_force_topk`: anchors are a small
    broadcast set, the corpus is scanned once with both sides
    L2-normalizing in their own narrow projection (norm computed once
    per vector, dot product per pair), the label inequality prunes
    map-side before any shuffle, and the final ranking is a per-anchor
    window over ≤ corpus candidate rows. The label filter uses plain
    ``<>`` — NULL-labeled vectors are never mined as negatives (an
    unlabeled vector is not evidence of a different class).

    Output: (anchor_id, anchor_label, neighbor_id, neighbor_label,
    cos_sim 4dp, rnk) — cos_sim rounded BEFORE ranking so engine ulp
    differences cannot reorder ties; ties broken by neighbor_id.
    """

    a = _normed_projection(
        anchors, vec_col, id_col, "anchor_id",
        extra={label_col: "anchor_label"},
    )
    emb = fan_out(emb, id_col)
    c = _normed_projection(
        emb, vec_col, id_col, "neighbor_id",
        extra={label_col: "neighbor_label"},
    )
    scored = (
        c.crossJoin(F.broadcast(a))
        .filter(F.col("neighbor_label") != F.col("anchor_label"))
        .select(
            "anchor_id",
            "anchor_label",
            "neighbor_id",
            "neighbor_label",
            round_half_up(
                dot(F.col("anchor_id_v"), F.col("neighbor_id_v")), 4
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "anchor_id",
            "anchor_label",
            "neighbor_id",
            "neighbor_label",
            "cos_sim",
            "rnk",
        )
    )


def pca_project(
    emb: DataFrame,
    dim: int,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PCA dimensionality reduction APPLIED: project every embedding
    onto the top-``k`` principal components — the standard pre-ANN
    dim-reduce (64 → 8 here) and the transform half of
    :func:`pca_variance`'s diagnostic.

    Scale shape: the moments come from the shared :func:`_mean_cov`
    pass (partials-only driver traffic); the ``dim × k`` component
    matrix then rides into a second map-only Arrow pass as a plain
    closure literal — ``(X − μ) @ V`` per batch, one gemm, zero
    shuffles end to end.

    Determinism: eigenvectors are sign-ambiguous (±v solve the same
    eigenproblem), so each component is pinned to make its largest-
    magnitude entry positive — with the pinned-order covariance
    reduce this makes re-runs bit-stable; projected coordinates round
    to 6dp as the usual float-order guard. Rows-only by design
    (eigensolves aren't SQL-expressible); numpy-reference parity and
    variance-capture are pytest-pinned.

    Output: (``id_col``, proj array<double> length k).
    """
    import numpy as np
    import pandas as pd

    _, mu, cov = _mean_cov(emb, dim, vec_col, caller="pca_project")
    evals, evecs = np.linalg.eigh(cov)
    v = evecs[:, ::-1][:, :k]  # top-k components, descending eigenvalue
    # sign pin: largest-|entry| of each component positive
    idx = np.argmax(np.abs(v), axis=0)
    signs = np.sign(v[idx, np.arange(v.shape[1])])
    signs[signs == 0] = 1.0
    v = v * signs
    v_lit = [[float(x) for x in row] for row in v]
    mu_lit = [float(x) for x in mu]

    def project(batches):
        vm = np.asarray(v_lit)
        mv = np.asarray(mu_lit)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(
                [np.asarray(e, dtype=np.float64) for e in pdf["v"]]
            )
            z = (x - mv) @ vm
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "proj": [
                        [round(float(t), 6) for t in row] for row in z
                    ],
                }
            )

    # carry the id column in ITS OWN type — cast('long') on a string
    # id nulls every row and returns silently unjoinable output (the
    # same defect class fixed in graph.pagerank)
    id_type = emb.schema[id_col].dataType.simpleString()
    src = emb.select(
        F.col(id_col).alias("id"),
        as_double_array(F.col(vec_col)).alias("v"),
    )
    return src.mapInPandas(
        project, schema=f"id {id_type}, proj array<double>"
    ).select(F.col("id").alias(id_col), "proj")


def cluster_label_purity(
    emb: DataFrame,
    dim: int,
    n_clusters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    seed: int = 42,
) -> DataFrame:
    """Cluster-quality QA: k-means the embeddings and report, per
    cluster, how label-pure it is — n_vecs, the majority label, and
    purity = majority count / cluster size. Near-1 purity says the
    embedding geometry respects the labels (clusters usable for
    SemDeDup blocking / per-cluster curation); near-uniform purity
    says the labels carry no geometric signal.

    Scale shape: training/assignment are the shared IVF machinery
    (:func:`kmeans_centroids` seeded deterministic init,
    :func:`ivf_assign` map-only against the broadcast centroid
    table); the purity readout is two combining aggregates on the
    (cluster, label) then cluster grain — never wider than
    n_clusters × labels. Majority ties break toward the SMALLER
    label (max on (count, -label)) so the report is deterministic.
    Rows-only (k-means isn't SQL-expressible); determinism and a
    separable-corpus purity pin are pytest-checked.

    Output: (cluster, n_vecs, majority_label, purity 4dp).
    """
    from pyspark.sql import types as T

    if not isinstance(
        emb.schema[id_col].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    ):
        # ivf_assign emits its id as long; a non-integer id would cast
        # to NULL there and the join below would return an EMPTY frame
        # with no error — fail loudly instead
        raise ValueError(
            f"cluster_label_purity: id column {id_col!r} must be an "
            "integer type (got "
            f"{emb.schema[id_col].dataType.simpleString()})"
        )
    centroids = kmeans_centroids(
        emb, dim, n_cells=n_clusters, vec_col=vec_col, seed=seed
    )
    assigned = ivf_assign(
        emb, centroids, vec_col=vec_col, id_col=id_col, out_id="__aid"
    )
    lab = emb.select(
        F.col(id_col).cast("long").alias("__lid"), F.col(label_col)
    )
    cl = assigned.select("__aid", F.col("cell").alias("cluster")).join(
        lab, F.col("__aid") == F.col("__lid")
    )
    return _purity_readout(cl, label_col)


def _purity_readout(cl: DataFrame, label_col: str) -> DataFrame:
    """Per-cluster size / majority label / purity over a
    (cluster, label)-per-vector frame. Shared by
    :func:`cluster_label_purity` (trained k-means, rows-only) and
    :func:`cluster_label_purity_seeded` (oracle-bearing twin), so the
    twin's hash gate covers this exact readout code. Majority ties
    break toward the SMALLER label (max on (count, -label))."""
    per_label = cl.groupBy("cluster", label_col).agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        per_label.groupBy("cluster")
        .agg(
            F.sum("n").cast("long").alias("n_vecs"),
            F.max(
                F.struct(F.col("n"), (-F.col(label_col)).alias("neg"))
            ).alias("__m"),
        )
        .select(
            "cluster",
            "n_vecs",
            (-F.col("__m.neg")).cast("int").alias("majority_label"),
            round_half_up(F.col("__m.n") / F.col("n_vecs"), 4).alias(
                "purity"
            ),
        )
    )


def cluster_label_purity_seeded(
    emb: DataFrame,
    n_seeds: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Oracle-bearing twin of :func:`cluster_label_purity` (VERDICT
    r12 #3, the ann_ivf_portable discipline): the "centroids" are the
    ``n_seeds`` lowest-id vectors (no Lloyd training), assignment is
    argmax cosine rounded to 6dp BEFORE ranking with seed-id
    tie-break — every step SQL-expressible, so a DuckDB oracle
    replays assignment AND the purity readout and hash-checks the
    output. The readout is the SAME code path the trained production
    key uses (:func:`_purity_readout`), so its math is value-gated
    here; only Lloyd iteration itself stays rows-only.

    Scale shape: seeds broadcast (n_seeds × dim floats), assignment
    is a map-side crossJoin + per-vector window on the
    high-cardinality vector id, readout two combining aggregates —
    never wider than n_seeds × labels. Cluster ids are seed vec_ids
    (longs), not 0..k-1 cell indexes.
    """
    v = _seeded_projection(emb, vec_col, id_col, keep=(label_col,))
    seeds = _lowest_id_seeds(v, n_seeds)
    cl = _nearest_seeds(v, seeds, "__vid", 1, keep=(label_col,)).select(
        F.col("cell").alias("cluster"), label_col
    )
    return _purity_readout(cl, label_col)


def semdedup_seeded(
    emb: DataFrame,
    n_seeds: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.3,
    n_blocks: int = 4,
) -> DataFrame:
    """Oracle-bearing twin of :func:`semdedup_kmeans` — the FULL
    SemDeDup composition (cluster assignment → within-cluster keep
    rule) with every step SQL-statable: "centroids" are the
    ``n_seeds`` lowest-id vectors (no Lloyd training), assignment is
    argmax 6dp-rounded cosine with seed-id tie-break (the
    :func:`cluster_label_purity_seeded` discipline), and the keep
    rule is the IDENTICAL :func:`semdedup` code path the trained
    production key runs (blocked gemm pairs, drop iff a lower-id
    same-cluster vector has 4dp cosine ≥ threshold). Only Lloyd
    iteration itself remains rows-only — the assignment math, the
    pair scan, and the exists-based keep decision are all value-gated
    here end to end.

    Scale shape: seeds broadcast (n_seeds × dim floats), assignment
    is a map-side crossJoin + per-vector window keyed on the vector
    id, the pair scan is the blocked gemm (shuffle O(N · n_blocks),
    per-task memory bounded by the largest cluster's block pair).

    Output: (id_col, cluster, kept) — cluster is the seed vec_id.
    """
    v = _seeded_projection(emb, vec_col, id_col)
    seeds = _lowest_id_seeds(v, n_seeds)
    cells = _nearest_seeds(v, seeds, "__vid", 1).select(
        "__vid", F.col("cell").alias("__cluster")
    )
    clustered = (
        emb.select(
            F.col(id_col).cast("long").alias(id_col), F.col(vec_col)
        )
        .join(cells, F.col(id_col) == F.col("__vid"))
        .select(id_col, vec_col, "__cluster")
    )
    return semdedup(
        clustered,
        "__cluster",
        vec_col=vec_col,
        id_col=id_col,
        threshold=threshold,
        n_blocks=n_blocks,
    )


def ood_scores(
    emb: DataFrame,
    dim: int,
    n_clusters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Embedding out-of-distribution / drift monitor: each vector's
    distance (1 − cosine) to its assigned k-means centroid, z-scored
    over the corpus — the health check that catches a shifted
    embedding batch (new encoder version, corrupted upstream, novel
    domain) before it poisons ANN indexes and dedup thresholds.

    Scale shape: training/assignment are the shared IVF machinery
    (driver-sample-capped seeded k-means + map-only broadcast-centroid
    assignment); the assigned centroid joins back from a
    ``n_clusters``-row broadcast table, the distance is a pure
    Catalyst expression, and the z normalization folds the corpus
    mean/stddev in as a one-row broadcast. Distances rounded 4dp
    BEFORE the moment aggregates so the z is engine-stable across
    re-runs.

    Output: (id_col, cell, dist 4dp, z 4dp). Rows-only (k-means);
    determinism and a planted-outlier pin are pytest-checked.

    Degenerate corpora: when the distance spread is zero (every vector
    equidistant from its centroid — e.g. all-identical embeddings) or
    undefined (a single vector, stddev_samp NULL), z is 0.0 for every
    row — "no vector deviates from the corpus" — so the drift monitor
    stays total and a downstream ``z > cut`` filter passes vacuously
    instead of dropping rows into a NULL hole.
    """
    from . import caching

    spark = emb.sparkSession
    centroids = kmeans_centroids(
        emb, dim, n_cells=n_clusters, vec_col=vec_col, seed=seed
    )
    assigned = ivf_assign(
        emb, centroids, vec_col=vec_col, id_col=id_col, out_id="__oid"
    )
    cent_df = spark.createDataFrame(
        [
            (i, [float(x) for x in c], py_norm([float(x) for x in c]))
            for i, c in enumerate(centroids)
        ],
        "cell int, __c array<double>, __cn double",
    )
    d = caching.persist_tracked(
        assigned.withColumn("__vn", norm(F.col("v")))
        .join(F.broadcast(cent_df), "cell")
        .select(
            F.col("__oid").alias(id_col),
            "cell",
            round_half_up(
                F.lit(1.0)
                - cosine_pair(
                    F.col("v"), F.col("__c"), F.col("__vn"), F.col("__cn")
                ),
                4,
            ).alias("dist"),
        )
    )
    mom = d.agg(
        F.avg("dist").alias("__mu"), F.stddev_samp("dist").alias("__sd")
    )
    return d.join(F.broadcast(mom)).select(
        id_col,
        "cell",
        "dist",
        F.when(
            F.col("__sd") > 0,
            round_half_up((F.col("dist") - F.col("__mu")) / F.col("__sd"), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("z"),
    )


# --------------------------------------------------------------------------
# Johnson–Lindenstrauss random projection (training-free dimensionality
# reduction). PCA (pca_variance / embedding_pca_project) learns the optimal
# subspace but needs a covariance pass + driver eigensolve; the JL sparse
# sign matrix needs NO pass over the data at all — the projection matrix is
# a pure function of (seed, i, j), ships as a few-KB literal inside the
# plan, and the projection itself is a map-only Catalyst expression. At
# 100 TB that means zero training state, zero extra scans, and the same
# plan on every executor; distance distortion is bounded by the JL lemma
# (Achlioptas 2003: entries +1/-1/0 w.p. 1/6, 1/6, 2/3, scaled sqrt(3/k)).
# --------------------------------------------------------------------------


def rp_sign_matrix(
    dim: int, out_dim: int, seed: str = "rp-v1"
) -> list[list[int]]:
    """Deterministic Achlioptas sparse-sign matrix: entry (i, j) is
    +1 / -1 / 0 with probability 1/6 / 1/6 / 2/3, derived from the
    md5 of ``seed:i:j`` — no RNG state, so any engine or runtime that
    re-derives the matrix gets the identical literal."""
    import hashlib

    mat: list[list[int]] = []
    for i in range(dim):
        row = []
        for j in range(out_dim):
            h = int(
                hashlib.md5(f"{seed}:{i}:{j}".encode()).hexdigest()[:8], 16
            )
            m = h % 6
            row.append(1 if m == 0 else (-1 if m == 1 else 0))
        mat.append(row)
    return mat


def rp_project(
    emb: DataFrame,
    dim: int = 64,
    out_dim: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = "rp-v1",
) -> DataFrame:
    """Project ``vec_col`` (array<float/double>, length ``dim``) to a
    rounded ``out_dim``-d array via the JL sparse sign matrix.

    Map-only: each output coordinate is one sequential-fold dot
    product against a literal sign column — 16 codegen'd expressions,
    no shuffle, no UDF, no training. Values are 4dp-rounded so the
    projection is value-comparable across engines (the oracle restates
    the same matrix as SQL list literals)."""
    import math

    mat = rp_sign_matrix(dim, out_dim, seed)
    scale = math.sqrt(3.0 / out_dim)
    e = as_double_array(F.col(vec_col))
    comps = [
        round_half_up(
            F.lit(scale)
            * dot(e, F.array(*[F.lit(float(mat[i][j])) for i in range(dim)])),
            4,
        )
        for j in range(out_dim)
    ]
    return emb.select(F.col(id_col), F.array(*comps).alias("rp"))


def rp_distortion_report(
    emb: DataFrame,
    dim: int = 64,
    out_dim: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = "rp-v1",
    max_id: int = 60,
) -> DataFrame:
    """Squared-distance distortion histogram of the JL projection over
    all pairs of the ``id < max_id`` slice: ratio = ||P(a)-P(b)||² /
    ||a-b||², bucketed at 0.1 width, with per-bucket min/max ratio.

    The pair set is BOUNDED (max_id chooses it), so the self-join is a
    broadcast of a fixed-size slice — the report costs O(max_id²)
    regardless of corpus size; the projection being audited is the
    map-only one served by :func:`rp_project`. The distances reuse the
    ROUNDED projected values (the materialized output, not a private
    higher-precision copy), so the report audits what downstream
    actually consumes."""
    proj = rp_project(emb, dim, out_dim, vec_col, id_col, seed)
    base = (
        emb.select(
            F.col(id_col), as_double_array(F.col(vec_col)).alias("e")
        )
        .filter(F.col(id_col) < max_id)
        .join(proj, id_col)
    )
    a = base.select(
        F.col(id_col).alias("ida"), F.col("e").alias("ea"), F.col("rp").alias("pa")
    )
    b = base.select(
        F.col(id_col).alias("idb"), F.col("e").alias("eb"), F.col("rp").alias("pb")
    )
    diff_full = F.zip_with("ea", "eb", lambda x, y: x - y)
    diff_proj = F.zip_with("pa", "pb", lambda x, y: x - y)
    pairs = (
        a.join(F.broadcast(b), F.col("ida") < F.col("idb"))
        .select(
            dot(diff_full, diff_full).alias("d2_full"),
            dot(diff_proj, diff_proj).alias("d2_proj"),
        )
        .filter(F.col("d2_full") > 0)
        .select((F.col("d2_proj") / F.col("d2_full")).alias("ratio"))
    )
    return (
        pairs.groupBy(
            F.floor(F.col("ratio") * 10).cast("int").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            round_half_up(F.min("ratio"), 4).alias("min_ratio"),
            round_half_up(F.max("ratio"), 4).alias("max_ratio"),
        )
        .orderBy("bucket")
    )


def ann_rp(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shortlist: int = 64,
    dim: int = 64,
    out_dim: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = "rp-v1",
) -> DataFrame:
    """Two-stage retrieval with the JL random projection as stage 1:
    shortlist by cosine over the SERVED 4dp-rounded 16-d projection
    (:func:`rp_project`), exact full-dimension re-rank via
    :func:`_exact_rerank` — the :func:`ann_matryoshka` contract with
    the prefix slice swapped for a projection that needs no
    MRL-trained embedding model.

    Scale shape: like matryoshka there is NO trained state — the sign
    matrix is a literal — so the coarse index never needs re-training
    as the corpus grows; stage 1 moves 16 doubles per row instead of
    64 (4× cheaper flops AND shuffled bytes), stage 2 touches full
    vectors for |Q| × shortlist rows only. Unlike matryoshka it works
    on embeddings that were NOT MRL-trained: JL preserves pairwise
    geometry of ANY vector family, so this is the drop-in coarse
    stage for arbitrary embedding columns.

    Output: (query_id, neighbor_id, cos_sim 4dp, rnk) — the
    :func:`brute_force_topk` contract, so recall pins compare
    directly."""
    pe = rp_project(emb, dim, out_dim, vec_col, id_col, seed).withColumnRenamed(
        "rp", "__pv"
    )
    pq = rp_project(
        queries, dim, out_dim, vec_col, id_col, seed
    ).withColumnRenamed("rp", "__pv")
    cand = brute_force_topk(
        pe, pq, k=shortlist, vec_col="__pv", id_col=id_col
    ).select("query_id", "neighbor_id")
    return _exact_rerank(emb, queries, cand, k, vec_col, id_col)
