"""Embedding similarity search (E20): brute-force cosine top-k as the
correctness baseline, sign-bucket LSH as the scale path.

Vectors are ``array<float>`` columns; all arithmetic is done with built-in
higher-order functions (``zip_with`` + ``aggregate``) — JVM-side, no Python.
The fold in ``aggregate`` is a deterministic left-to-right sum.

Scale notes (100 TB / billions of vectors):
  * Brute force is O(|Q| x |C|): correct for evaluation and for small |Q|
    (broadcast the queries, one pass over the corpus, per-partition top-k
    then global top-k — no corpus shuffle).
  * ``signature_lsh_topk`` buckets vectors by the sign pattern of d leading
    dimensions (coordinate hyperplanes — the deterministic cousin of
    random-hyperplane LSH, Charikar'02; same recall shape since the
    embeddings are rotation-free here). Candidates = bucket collisions
    (optionally with 1-bit Hamming expansion), so comparisons drop by ~2^d.
    For real recall targets use multiple independent sign projections —
    the operator takes the bucket width as a parameter.
  * An IVF variant (k-means coarse quantizer -> probe nearest cells) is the
    next rung; Spark's ml KMeans supplies centroids and the probe is a
    broadcast join on cell id. Not needed at fixture scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _vec_matrix(arr):
    """(rows x dims) float64 matrix from an Arrow ``list<float>`` /
    ``list<double>`` column — the Python-boundary fast path shared by
    every vectorized (mapInArrow / applyInArrow) operator here and in
    operators/dedup.py. The flat values buffer is read zero-copy and
    reshaped, and the float32 -> float64 widening is exact, so the result
    is bit-identical to a per-row ``np.asarray(v, float64)`` conversion
    (measured 10x faster on a 200k x 64 batch). Ragged or null-bearing
    columns fall back to the per-row path."""
    import numpy as np
    import pyarrow.compute as pc

    n = len(arr)
    if n == 0:
        return np.empty((0, 0), dtype=np.float64)
    lens = pc.list_value_length(arr)
    if arr.null_count == 0 and lens.null_count == 0:
        lo = pc.min(lens).as_py()
        if lo == pc.max(lens).as_py() and lo is not None and lo >= 0:
            flat = arr.flatten()
            try:
                vals = flat.to_numpy(zero_copy_only=True)
            except Exception:  # pragma: no cover - non-primitive values
                vals = flat.to_numpy(zero_copy_only=False)
            return vals.reshape(n, lo).astype(np.float64, copy=False)
    return np.array(
        [np.asarray(v, dtype=np.float64) for v in arr.to_pylist()]
    )


def _dot(a: Column, b: Column) -> Column:
    """Deterministic double dot product of two array<float> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    q_id: str = "q_id",
    c_id: str = "c_id",
    vec: str = "embedding",
    round_digits: int | None = 6,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Plan: broadcast(queries) x corpus -> cosine -> window top-k. The corpus
    is scanned once and never shuffled until the (tiny) ranked output.
    Cosine is rounded before ranking (with id tiebreak) so the k-frontier
    is deterministic across engines/float orders."""
    # norms are per-ROW quantities — materialize each side's norm BEFORE
    # the join so per-PAIR work is one dot + divide; inline, the corpus
    # norm re-folds per query and the query norm per candidate
    # (higher-order lambdas are interpreted, no CSE). Same float ops in the
    # same order (dot / (qn * cn)) -> bit-identical cosine.
    q = queries.select(
        F.col(q_id), F.col(vec).alias("__qv"), _norm(F.col(vec)).alias("__qn")
    )
    c = corpus.select(
        F.col(c_id), F.col(vec).alias("__cv"), _norm(F.col(vec)).alias("__cn")
    )
    cos = _dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn"))
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    scored = c.crossJoin(F.broadcast(q)).select(
        q_id, c_id, cos.alias("cosine")
    ).filter(F.col(q_id) != F.col(c_id))
    return _rank_topk(scored, k, q_id, c_id)


def _rank_topk(scored: DataFrame, k: int, q_id: str, c_id: str) -> DataFrame:
    """The ranked tail every top-k rung shares: per query, the ``k`` best
    ``cosine`` rows with a ``c_id`` tiebreak — cosines arrive rounded, so
    the k-frontier is engine-independent. The window on ``q_id`` is the
    rung's only hash exchange. Returns (q_id, c_id, cosine, rn)."""
    from pyspark.sql import Window as W

    w = W.partitionBy(q_id).orderBy(F.desc("cosine"), F.asc(c_id))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(q_id, c_id, "cosine", "rn")
    )


def kmeans_centroids(
    corpus: DataFrame,
    vec: str = "embedding",
    n_centroids: int | None = None,
    sample_fraction: float = 1.0,
    seed: int = 42,
    max_iter: int | None = None,
) -> DataFrame:
    """PRODUCTION coarse quantizer: spark.ml KMeans over a corpus sample.
    Returns ``(cent_id, <vec>)`` ready for :func:`ivf_topk`'s ``centroids``
    parameter.

    Sizing: ``n_centroids`` defaults to ~sqrt(N) (the standard IVF rule —
    balances cell size against probe fan-out); the count() that sizes it is
    an index-BUILD-time cost, not a query-time one. Training runs on a
    seeded sample (at 100 TB, fit on ~1M sampled vectors, never the full
    corpus); the resulting centroid table is tiny (sqrt(N) rows) and is
    collected once by ivf_topk, so cell assignment stays a single projection
    pass over the corpus. Seeded KMeans is run-to-run deterministic, but
    NOT engine-portable like the prefix quantizer the declared oracle
    uses — which is exactly why both exist.

    Build-latency fast path (hand bounded batches to native vectorized
    code): when the TRAINING SAMPLE is small enough to fit comfortably on
    the driver (<= ``_DRIVER_FIT_MAX_ROWS`` rows — the planner's own
    sizing rule of ~100 rows/centroid stays under it until ~2.6k
    centroids), the fit runs as seeded numpy k-means++ / Lloyd on
    the collected sample instead of spark.ml — same sample, same
    iteration cap, one collect job in place of ~2 Spark jobs per
    iteration. Larger fits (the true 100 TB regime: sqrt(N) centroids x
    100 samples each) keep the distributed spark.ml path — the
    driver-side rule is a bounded-sample fast path, not a scale
    assumption; ``SPARK_GRAFT_KMEANS_DRIVER_FIT=0`` disables it. Both
    paths are deterministic per seed; neither is engine-portable, and
    recall stays gated downstream (similarity_ivf_recall, the x100
    ladder floors)."""
    import os

    sample = corpus.select(F.col(vec).alias("__v"))
    if sample_fraction < 1.0:
        sample = sample.sample(fraction=sample_fraction, seed=seed)
    if n_centroids is None:
        import math

        n_centroids = max(2, int(math.isqrt(corpus.count())))
    rows = None
    if os.environ.get("SPARK_GRAFT_KMEANS_DRIVER_FIT", "1") != "0":
        # bounded probe: limit(N+1) collect instead of a count() job — the
        # sample may be corpus-sized and only "is it small?" matters here
        head = sample.limit(_DRIVER_FIT_MAX_ROWS + 1).collect()
        if n_centroids <= len(head) <= _DRIVER_FIT_MAX_ROWS:
            rows = head
    if rows is not None:
        import numpy as np

        X = np.array([r["__v"] for r in rows], dtype=np.float64)
        iters = 20 if max_iter is None else max_iter  # spark.ml's default
        centers_np = _lloyd_fit(X, n_centroids, seed, iters)
        centers = [
            (i, [float(x) for x in c]) for i, c in enumerate(centers_np)
        ]
    else:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        train = sample.select(array_to_vector(F.col("__v")).alias("features"))
        km = KMeans(k=n_centroids, seed=seed, featuresCol="features")
        if max_iter is not None:
            # a coarse quantizer needs cell BOUNDARIES, not converged
            # centers — capped iterations are the standard IVF build
            # economy (recall is gated by similarity_ivf_recall either way)
            km = km.setMaxIter(max_iter)
        model = km.fit(train)
        centers = [
            (i, [float(x) for x in c])
            for i, c in enumerate(model.clusterCenters())
        ]
    return corpus.sparkSession.createDataFrame(
        centers, f"cent_id bigint, {vec} array<double>"
    )


# driver-side fit cap: 100 rows/centroid (the planner's sampling rule)
# stays under this until ~2.6k centroids; the collected sample at the cap
# is ~128 MB of float64 for 64-dim vectors — bounded build-time metadata,
# far from a data collect in a query path
_DRIVER_FIT_MAX_ROWS = 262_144


def _lloyd_fit(X, k: int, seed: int, max_iter: int):
    """Seeded k-means++ init + Lloyd iterations in numpy (driver-side fast
    path of :func:`kmeans_centroids`). Early-stops when assignments stop
    changing; empty clusters keep their previous center. Deterministic per
    (X, k, seed, max_iter)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    n = X.shape[0]
    centers = np.empty((k, X.shape[1]), dtype=np.float64)
    centers[0] = X[rng.integers(n)]
    d2 = ((X - centers[0]) ** 2).sum(axis=1)
    for i in range(1, k):
        tot = d2.sum()
        if tot <= 0:
            # all residual distance is zero (duplicate-heavy sample):
            # remaining centers are random members, matching k-means++'s
            # degenerate-case behavior of picking arbitrary points
            centers[i:] = X[rng.integers(n, size=k - i)]
            break
        centers[i] = X[rng.choice(n, p=d2 / tot)]
        d2 = np.minimum(d2, ((X - centers[i]) ** 2).sum(axis=1))
    assign = None
    x2 = (X * X).sum(axis=1)[:, None]
    for _ in range(max_iter):
        # argmin over squared L2 via the expanded form — one BLAS matmul
        # per iteration instead of a Spark job pair
        D = x2 - 2.0 * (X @ centers.T) + (centers * centers).sum(axis=1)[None, :]
        new_assign = D.argmin(axis=1)
        if assign is not None and np.array_equal(new_assign, assign):
            break
        assign = new_assign
        for i in range(k):
            members = X[assign == i]
            if len(members):
                centers[i] = members.mean(axis=0)
    return centers


# cell_assigner's auto-backend threshold and the ceiling of the literal
# expr backend. An interleaved A/B at 16/48/96/141 cells x {x10, x100}
# corpora measured the Arrow matmul backend ahead of the interpreted HOF
# argmax from ~48 cells up (141 cells at the x100 corpus: expr 9.1 s vs
# arrow 0.9 s — the HOF path pays O(cells x dims) interpreted dispatches
# and a cells-sized struct array_sort PER ROW). 64 keeps every declared
# query (all pin n_centroids=16, <= 44 cells for sqrt-sized paths at the
# driver-checked SFs) on the expr literal path — the oracle-replicable
# semantics reference — while production-sized quantizers (sqrt(N) cells)
# get the vectorized backend. Past it the literal would also inline
# n_centroids x d ``F.lit`` nodes into every plan.
_LITERAL_CENTROID_MAX = 64


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    q_id: str = "q_id",
    c_id: str = "c_id",
    vec: str = "embedding",
    round_digits: int = 6,
    centroids: DataFrame | None = None,
    assignment: str = "auto",
    rescore: str = "float",
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: a coarse quantizer
    assigns every corpus vector to its nearest centroid's cell; each query
    probes only its ``n_probe`` nearest cells and rescores candidates there —
    the comparison count drops by ~n_centroids/n_probe vs brute force.

    The default quantizer is deterministic (the n_centroids lowest-id corpus
    vectors) so the DuckDB oracle can replicate the index bit-for-bit; the
    PRODUCTION path passes ``centroids=kmeans_centroids(corpus, ...)``
    (``(cent_id, <vec>)`` rows) — sampled KMeans with ~sqrt(N) cells. Either
    way the centroid table is collected once and cell assignment is a pure
    projection over one corpus pass (no shuffle). Affinities are rounded
    before ranking with id tiebreaks so cell boundaries and the k-frontier
    are engine-independent. Recall against the exact rung is a MEASURED
    contract: the ``similarity_ivf_recall`` declared query gates it.

    ``assignment`` picks the argmax backend:
      * ``"expr"`` — Catalyst higher-order functions over the centroid
        table inlined as a literal array, the semantics REFERENCE (every
        rounding/NaN/tiebreak rule is one shared expression,
        oracle-replicable bit for bit). At most ``_LITERAL_CENTROID_MAX``
        (64) cells; past that it raises ``ValueError``;
      * ``"arrow"`` — a numpy-vectorized ``mapInArrow`` argmax (one BLAS
        matmul per Arrow batch). Interpreted HOF lambdas cost
        ~O(n_centroids x dims) interpreter dispatches per ROW — the x100
        ladder measured the expr backend at 2500 cells x 200k vectors at
        730 s (linear, but wide) — while the Arrow backend does the same
        work as a dense matmul. Same contract (round-half-up at
        ``round_digits``, ties to lowest cent_id, NaN ranks first);
        float64 summation ORDER differs sub-ulp from the expr fold, so
        cross-backend equality holds after rounding except on
        ~1e-10-of-a-boundary knife edges (fixture-pinned by tests).
      * ``"auto"`` — expr up to 64 cells, Arrow past it (where the per-row
        interpreter cost dominates): every declared query pins 16 cells
        and stays on the expr/oracle semantics, sqrt(N)-sized production
        quantizers get the vectorized backend.

    ``rescore`` picks the candidate-scoring representation:
      * ``"float"`` — candidates rescored against the raw corpus vectors;
      * ``"int8"``  — the IVF×SQ8 composition a real 100 TB ANN stack
        ships (FAISS ``IVFx,SQ8`` shape): cell assignment runs on the
        float vectors (index-BUILD-time work, full quantizer fidelity),
        but every candidate the probe rescores is the per-vector
        symmetric int8 code (:func:`quantize_int8`) — the inverted lists
        store ¼ the bytes, queries stay float (asymmetric distance), and
        the per-vector scale cancels in cosine so there is no
        dequantization step. Recall vs the exact rung is gated by the
        ``similarity_ivf_int8_recall`` declared query."""
    cells, probes = ivf_assign(
        queries, corpus, n_centroids=n_centroids, n_probe=n_probe,
        q_id=q_id, c_id=c_id, vec=vec, round_digits=round_digits,
        centroids=centroids, assignment=assignment,
    )
    return _rescore(cells, probes, k, q_id, c_id, vec, round_digits, rescore)


def ivf_assign(
    queries: DataFrame,
    corpus: DataFrame,
    n_centroids: int = 16,
    n_probe: int = 4,
    q_id: str = "q_id",
    c_id: str = "c_id",
    vec: str = "embedding",
    round_digits: int = 6,
    centroids: DataFrame | None = None,
    assignment: str = "auto",
) -> tuple[DataFrame, DataFrame]:
    """The IVF index WITHOUT the rescore tail: ``cells`` = one row per
    corpus vector ``(c_id, vec, __cell)`` (its nearest cell), ``probes`` =
    ``(q_id, __qv, __cell)`` rows (each query x its n_probe nearest cells).
    Same quantizer resolution and backend choice as ivf_topk — which is
    assign + _rescore over this function's output. Composed rungs
    (IVF x PQ) and cell-partitioned operators (semantic dedup) consume the
    assignment directly."""
    assign = cell_assigner(
        corpus, n_centroids=n_centroids, c_id=c_id, vec=vec,
        round_digits=round_digits, centroids=centroids, assignment=assignment,
    )
    cells = assign(corpus.select(c_id, vec), c_id, 1)
    probes = assign(queries.select(q_id, vec), q_id, n_probe).withColumnRenamed(
        vec, "__qv"
    )
    return cells, probes


def cell_assigner(
    corpus: DataFrame | None,
    n_centroids: int = 16,
    c_id: str = "c_id",
    vec: str = "embedding",
    round_digits: int = 6,
    centroids: DataFrame | None = None,
    assignment: str = "auto",
):
    """Resolve the coarse quantizer ONCE (centroid table and argmax
    backend) and return ``assign(df, id_col, keep_rn) -> DataFrame``
    mapping any ``(id, vec)`` frame to ``(id, vec, __cell)`` rows — the
    nearest ``keep_rn`` cells per row under the shared rounding/NaN/tiebreak
    contract. This is the assignment seam of :func:`ivf_topk`, the
    composed IVF x PQ rung, the persisted index and the semantic-dedup
    operators. The returned function carries the resolved backend as
    ``assign.backend`` (``"expr"`` or ``"arrow"``; see :func:`ivf_topk`
    for the choice), which :func:`build_ann_index` persists. ``corpus`` is
    only consulted for the default prefix quantizer — callers that pass
    ``centroids`` (e.g. probing a PERSISTED index) may pass None.

    Whatever the backend, the centroid table is collected to the driver
    exactly once: it is ~sqrt(N) rows by design, and both backends need
    its rows — the expr backend inlines them as a literal array, the
    Arrow backend ships them in the task closure."""
    if assignment not in ("auto", "expr", "arrow"):
        raise ValueError(f"unknown assignment backend: {assignment}")
    if centroids is not None:
        cent = centroids.select(
            F.col("cent_id").alias("__cent_id"), F.col(vec).alias("__cent")
        )
    else:
        cent = (
            corpus.orderBy(c_id)
            .limit(n_centroids)
            .select(F.col(c_id).alias("__cent_id"), F.col(vec).alias("__cent"))
        )
    cent_rows = sorted(
        (r["__cent_id"], [float(x) for x in r["__cent"]]) for r in cent.collect()
    )
    if assignment == "auto":
        assignment = (
            "expr" if len(cent_rows) <= _LITERAL_CENTROID_MAX else "arrow"
        )
    elif assignment == "expr" and len(cent_rows) > _LITERAL_CENTROID_MAX:
        raise ValueError(
            f"assignment='expr' inlines the centroid table into the plan and "
            f"takes at most {_LITERAL_CENTROID_MAX} cells, got "
            f"{len(cent_rows)}; use assignment='arrow' or 'auto'"
        )

    if assignment == "arrow":

        def assign(df: DataFrame, id_col: str, keep_rn: int) -> DataFrame:
            return _arrow_assign(df, id_col, vec, keep_rn, cent_rows, round_digits)

        assign.backend = "arrow"
        return assign

    # Cell assignment is a ROW-LOCAL argmax over the literal centroid array
    # — no join at all, zero corpus shuffle. A broadcast crossJoin ->
    # row_number window partitioned by the row id would push |corpus| x
    # n_centroids rows through a full shuffle-sort just to keep one row per
    # id. Semantics: affinity rounded to ``round_digits`` BEFORE ranking,
    # ties to the lowest cent_id, NaN affinities (zero-norm vectors) rank
    # first exactly as a DESC NaN-greatest window order would.
    import math as _m

    cent_lit = F.array(
        *[
            F.struct(
                F.lit(cid).cast("bigint").alias("cid"),
                F.array(*[F.lit(x) for x in cv]).alias("cv"),
                F.lit(_m.sqrt(sum(x * x for x in cv))).alias("cnorm"),
            )
            for cid, cv in cent_rows
        ]
    )

    def assign(df: DataFrame, id_col: str, keep_rn: int) -> DataFrame:
        # materialize the row norm FIRST: higher-order lambdas re-evaluate
        # referenced subtrees per element (repo-wide perf rule), so _norm
        # inside the transform would recompute per centroid
        with_norm = df.select(
            id_col, vec, _norm(F.col(vec)).alias("__vnorm"),
            cent_lit.alias("__cents"),
        )
        aff = lambda c: F.round(  # noqa: E731
            _dot(F.col(vec), c["cv"]) / (F.col("__vnorm") * c["cnorm"]), round_digits
        )
        ranked = F.array_sort(
            F.transform(
                F.col("__cents"),
                # ascending struct sort on (-aff, cid): max affinity first,
                # ties to lowest cent_id; NaN -> +inf reproduces the window's
                # DESC NaN-first placement
                lambda c: F.struct(
                    (-F.nanvl(aff(c), F.lit(float("inf")))).alias("negaff"),
                    c["cid"].alias("cid"),
                ),
            )
        )
        picked = F.slice(ranked, 1, keep_rn)
        return with_norm.select(
            id_col, vec, F.explode(F.transform(picked, lambda s: s["cid"])).alias("__cell")
        )

    assign.backend = "expr"
    return assign


def _rescore(
    cells: DataFrame,
    probes: DataFrame,
    k: int,
    q_id: str,
    c_id: str,
    vec: str,
    round_digits: int,
    rescore: str = "float",
) -> DataFrame:
    """Shared IVF rescoring tail: join corpus cells to the (tiny) probe
    table on cell id and rank within each query. probes = |queries| x
    n_probe rows -> broadcast side; the corpus cells therefore never
    shuffle (a shuffled join on __cell would also skew badly: only
    n_centroids distinct keys).

    ``rescore="int8"`` swaps each candidate's vector for its per-vector
    symmetric int8 code before scoring (asymmetric: the probe side stays
    float) — row-local, two-step projection so the max-|x| subtree is
    materialized once per row, one shared encoding (quantize_int8)."""
    if rescore == "int8":
        cells = cells.select(
            "__cell",
            c_id,
            F.col(vec).alias("__v"),
            max_abs_col(F.col(vec)).alias("__mx"),
        ).select(
            "__cell",
            c_id,
            quantize_int8(F.col("__v"), max_abs=F.col("__mx")).alias(vec),
        )
    elif rescore != "float":
        raise ValueError(f"unknown rescore mode: {rescore}")
    # hoist the per-row norms out of the per-candidate cosine — inline, the
    # candidate-side norm re-folds once per probing query and the query
    # norm once per candidate. Identical float ops/order.
    cells = cells.withColumn("__cn", _norm(F.col(vec)))
    probes = probes.withColumn("__qn", _norm(F.col("__qv")))
    cos = F.round(
        _dot(F.col("__qv"), F.col(vec)) / (F.col("__qn") * F.col("__cn")),
        round_digits,
    )
    scored = (
        cells.join(F.broadcast(probes), on="__cell")
        .filter(F.col(q_id) != F.col(c_id))
        .select(q_id, c_id, cos.alias("cosine"))
    )
    return _rank_topk(scored, k, q_id, c_id)


def _arrow_assign(
    df: DataFrame,
    id_col: str,
    vec: str,
    keep_rn: int,
    cent_rows: list[tuple],
    round_digits: int,
) -> DataFrame:
    """Vectorized cell assignment: one dense float64 matmul per Arrow batch
    instead of O(n_centroids x dims) interpreted lambda dispatches per row.
    Row-local like the expr backend (mapInArrow adds no shuffle), same
    contract: affinity rounded HALF_UP at ``round_digits`` before ranking,
    ties to the lowest cent_id (cent_rows arrive cid-sorted, and numpy's
    stable argsort keeps first-index-wins on equal keys), NaN affinities
    (zero-norm vectors) rank first.

    Boundary caveat (two distinct classes):
      * reduction order — numpy's pairwise/BLAS summation differs sub-ulp
        from the expr fold, so a cosine within ~1e-10 of a rounding
        boundary can round differently across backends;
      * rounding rule — Spark's F.round is BigDecimal.valueOf HALF_UP:
        it rounds the SHORTEST-DECIMAL repr of the double, so a value
        whose repr is an exact half-tie at digit round_digits+1 (e.g.
        repr 0.1234565) rounds AWAY (0.123457), while this backend's
        floor(|x|*scale+0.5) rounds the BINARY double, which for such a
        repr sits just below the half and rounds down (0.123456).
    Both classes only move affinities sitting exactly on a cell boundary;
    since ``assignment='auto'`` switches backends past
    ``_LITERAL_CENTROID_MAX`` cells, boundary-vector cell assignment can
    depend on centroid count. A per-element Python-decimal emulation of
    BigDecimal would serialize the (rows x cells) affinity matrix through
    the interpreter — exactly the cost this backend exists to avoid — so
    the contract is DOCUMENTED and the shipped default is recall-gated where it actually engages: the
    x100 ladder's 2500-cell rung measures the Arrow backend's recall
    floor against exact brute force (test_scale_smoke.py), and the
    fixture tests pin expr==arrow row equality away from boundaries."""
    import numpy as np

    cids = np.array([c for c, _ in cent_rows], dtype=np.int64)
    cmat = np.array([v for _, v in cent_rows], dtype=np.float64)
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))
    scale = 10.0 ** round_digits
    id_type = df.schema[id_col].dataType.simpleString()
    vec_type = df.schema[vec].dataType.simpleString()
    out_schema = f"`{id_col}` {id_type}, `{vec}` {vec_type}, `__cell` bigint"

    n_cents = cmat.shape[0] if cmat.ndim == 2 else 0

    # mapInArrow: the vector column enters as one contiguous Arrow values
    # buffer, so the (rows x dims) matrix is a zero-copy reshape (+ exact
    # float32->float64 widening) instead of a per-row Python list
    # conversion (measured 10x on a 200k x 64 batch).
    #
    # One Python worker per core makes this MEMORY-BANDWIDTH bound under
    # task concurrency, not flops bound: 32 concurrent single-threaded
    # dgemms measured ~21 Gflop/s machine-wide vs ~120 Gflop/s for one
    # process alone. Materializing the full (rows x n_cents) float64
    # affinity matrix costs ~6 passes per batch (aff, abs, round, where,
    # -r, argsort indices — ~900 MB of DRAM traffic per 7.5k-row task at
    # 2500 cells), and the corpus side only needs the argmax. So the
    # keep_rn == 1 path runs a BLOCKED running argmax: per centroid block,
    # one gemm into a ~8 MB block that is rounded IN PLACE and folded into
    # the running (best, cid) — the full matrix never exists, the
    # per-element arithmetic is the argsort path's (same multiply-then-
    # divide denominator, same HALF_UP-on-the-binary-double rounding,
    # NaN -> +inf), and ties keep the LOWEST cent_id exactly like the
    # stable argsort (within a block np.argmax returns the first maximum;
    # across blocks the strictly-greater update keeps the earlier block's
    # pick). A row whose every affinity is -inf never updates, so it
    # starts on cids[0] — the argsort path's pick for an all-equal row.
    def _rounded_block(V, vnorm, lo, hi):
        with np.errstate(divide="ignore", invalid="ignore"):
            aff = V @ cmat[lo:hi].T
            denom = vnorm[:, None] * cnorm[None, lo:hi]
            aff /= denom
        nanmask = np.isnan(aff)
        neg = np.signbit(aff)
        np.abs(aff, out=aff)
        aff *= scale
        aff += 0.5
        np.floor(aff, out=aff)
        aff /= scale
        np.negative(aff, where=neg, out=aff)
        aff[nanmask] = np.inf  # NaN ranks first
        return aff

    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0 or n_cents == 0:
                continue
            va = batch.column(batch.schema.get_field_index(vec))
            ids = batch.column(batch.schema.get_field_index(id_col))
            V = _vec_matrix(va)
            rows = V.shape[0]
            vnorm = np.sqrt((V * V).sum(axis=1))
            if keep_rn == 1:
                cblock = max(128, int(8e6 / (8 * max(rows, 1))))
                best = np.full(rows, -np.inf)
                best_cell = np.full(rows, cids[0], dtype=np.int64)
                rr = np.arange(rows)
                for lo in range(0, n_cents, cblock):
                    hi = min(lo + cblock, n_cents)
                    r = _rounded_block(V, vnorm, lo, hi)
                    idx = np.argmax(r, axis=1)
                    vals = r[rr, idx]
                    upd = vals > best
                    best[upd] = vals[upd]
                    best_cell[upd] = cids[lo + idx[upd]]
                # no row repeat at keep_rn == 1: ids/vectors pass through
                # untouched, with no ``take`` copy of either column
                yield pa.RecordBatch.from_arrays(
                    [ids, va, pa.array(best_cell)],
                    names=[id_col, vec, "__cell"],
                )
                continue
            r = _rounded_block(V, vnorm, 0, n_cents)
            order = np.argsort(-r, axis=1, kind="stable")[:, :keep_rn]
            picked = cids[order]  # (rows, min(keep_rn, n_centroids))
            # repeat by the ACTUAL width: with fewer centroids than
            # keep_rn the slice is narrower, matching the expr path's
            # F.slice degrading gracefully instead of a length mismatch
            n_picked = picked.shape[1]
            idx = pa.array(
                np.repeat(np.arange(batch.num_rows, dtype=np.int64), n_picked)
            )
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(idx),
                    va.take(idx),
                    pa.array(picked.ravel(), type=pa.int64()),
                ],
                names=[id_col, vec, "__cell"],
            )

    return df.mapInArrow(gen, out_schema)


def sign_bucket(vec: Column, dims: int = 8) -> Column:
    """LSH bucket id: sign bits of the first ``dims`` dimensions packed into
    an int (0 .. 2^dims - 1)."""
    bits = F.transform(
        F.slice(vec, 1, dims),
        lambda x: F.when(x >= 0, F.lit(1)).otherwise(F.lit(0)),
    )
    return F.aggregate(bits, F.lit(0), lambda acc, b: acc * 2 + b)


def lsh_bucketed_pairs(
    df: DataFrame,
    id_col: str,
    vec: str = "embedding",
    dims: int = 8,
    min_cosine: float = 0.25,
    round_digits: int | None = 6,
    max_bucket: int | None = None,
) -> DataFrame:
    """All-pairs similarity restricted to sign-bucket collisions: documents
    only meet inside their bucket, cutting candidate pairs by ~2^dims.
    Returns (id_a, id_b, cosine) with cosine >= min_cosine, id_a < id_b.

    ``max_bucket`` drops sign buckets larger than the cap BEFORE the
    self-join — the same hot-bucket discipline as
    dedup.minhash_lsh_candidates. Real encoder outputs have BIASED
    coordinate signs, so one of the 2^dims buckets can hold a large
    constant fraction of N vectors and the uncapped self-join degrades
    toward N²; an oversized bucket means those sign bits carry no
    locality signal for its members anyway. Pass it at corpus scale
    (pair-mining over a low min_cosine especially); the default None keeps
    the exact-pair semantics small oracle-checked corpora rely on."""
    b = df.select(
        F.col(id_col),
        F.col(vec),
        sign_bucket(F.col(vec), dims).alias("__bucket"),
    )
    if max_bucket is not None:
        from pyspark.sql import Window as W

        b = (
            b.withColumn(
                "__bn", F.count(F.lit(1)).over(W.partitionBy("__bucket"))
            )
            .filter(F.col("__bn") <= max_bucket)
            .drop("__bn")
        )
    # one norm per row before the self-join instead of two norm folds per
    # candidate pair. Identical float ops/order.
    b = b.withColumn("__n", _norm(F.col(vec)))
    a, c = b.alias("a"), b.alias("b")
    cos = _dot(F.col(f"a.{vec}"), F.col(f"b.{vec}")) / (
        F.col("a.__n") * F.col("b.__n")
    )
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    return (
        a.join(c, F.col("a.__bucket") == F.col("b.__bucket"))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= min_cosine)
    )


def quantize_int8(vec: Column, max_abs: Column | None = None) -> Column:
    """Per-vector symmetric int8 scalar quantization: each element maps to
    ``round(127 * x / max_abs)`` — the standard 4×-compression encoding for
    embedding corpora (FAISS ``SQ8`` shape). Row-local (the scale is the
    vector's own max-|x|): no global pass, no shuffle, and because cosine is
    scale-invariant PER VECTOR the per-vector scale cancels exactly —
    quantized cosine needs no dequantization step. A zero vector quantizes
    to zeros (guarded division). Returns ``array<int>`` in [-127, 127].

    Pass ``max_abs`` (a pre-materialized max-|x| COLUMN) in plans: computed
    inline, the ``mx`` subtree re-evaluates per ELEMENT inside the
    transform lambda (higher-order lambdas are interpreted, no CSE) —
    O(dims²) per row, measured 2.5x slower than materializing the max
    into its own column first. The encoding (round mode, zero guard,
    clamp-by-construction) lives HERE only; :func:`quantized_topk` calls
    this with its pre-materialized ``__mx`` column."""
    mx = max_abs if max_abs is not None else max_abs_col(vec)
    return F.transform(
        vec,
        lambda x: F.when(mx == 0.0, F.lit(0))
        .otherwise(F.round(F.lit(127.0) * x.cast("double") / mx, 0))
        .cast("int"),
    )


def max_abs_col(vec: Column) -> Column:
    """Per-vector max-|x| — the int8 scale factor, as a column expression
    so callers can materialize it before quantizing (see quantize_int8)."""
    return F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))


def quantized_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    q_id: str = "q_id",
    c_id: str = "c_id",
    vec: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Asymmetric int8 top-k: the corpus is scanned in its quantized form
    (¼ the bytes of float32 — at 100 TB that is the difference between a
    memory-resident index and a disk-bound one) while queries stay float.
    Same plan shape as :func:`brute_force_topk` — broadcast(queries) ×
    one corpus pass, no corpus shuffle — but every corpus element the scan
    moves is one byte wide. Ranking ties are broken by id after 6-digit
    rounding so the k-frontier is engine-independent. Returns
    (q_id, c_id, cosine, rn) where cosine is computed against the
    quantized corpus vector."""
    q = queries.select(
        F.col(q_id), F.col(vec).alias("__qv"), _norm(F.col(vec)).alias("__qn")
    )
    # two-step projection: materialize the per-vector max into its own
    # column FIRST — inline, the max subtree re-evaluates per element in
    # the interpreted lambda (O(dims²)/row; 2.5x wall on the bench corpus).
    # The encoding itself is quantize_int8 — ONE definition, no drift.
    # The quantized-vector norm is also per-row — materialized once
    # instead of once per (q, c) pair.
    c = corpus.select(
        F.col(c_id),
        F.col(vec).alias("__v"),
        max_abs_col(F.col(vec)).alias("__mx"),
    ).select(
        c_id,
        quantize_int8(F.col("__v"), max_abs=F.col("__mx")).alias("__cv"),
    ).withColumn("__cn", _norm(F.col("__cv")))
    cos = F.round(
        _dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")),
        round_digits,
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        q_id, c_id, cos.alias("cosine")
    ).filter(F.col(q_id) != F.col(c_id))
    return _rank_topk(scored, k, q_id, c_id)


def pq_subspace_codebooks(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    c_id: str = "c_id",
    vec: str = "embedding",
    trained: bool = False,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Codebooks for product quantization: ``m`` subspaces × ``n_codes``
    codewords × (dims/m) floats, returned as plain nested lists (the whole
    table is m × n_codes × dims/m floats — e.g. 8×16×8 = 1 KiB — so it is
    plan-literal / broadcast material, never a shuffle side).

    Default is the DETERMINISTIC PREFIX rule the declared oracle replicates
    bit-for-bit (the same rule as ivf_topk's default quantizer): subspace
    ``s``'s codewords are the ``n_codes`` lowest-id corpus vectors' s-th
    slices. ``trained=True`` is the production path — per-subspace KMeans
    (Jégou et al., "Product Quantization for Nearest Neighbor Search",
    TPAMI'11) on a seeded sample, one small fit per subspace, never a full
    corpus pass."""
    if trained:
        import numpy as np

        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        sample = corpus.select(F.col(vec).alias("__v"))
        n = sample.count()
        frac = min(1.0, (100.0 * n_codes) / max(n, 1))
        if frac < 1.0:
            sample = sample.sample(fraction=frac, seed=seed)
        rows = np.array([r["__v"] for r in sample.collect()], dtype=np.float64)
        dims = rows.shape[1]
        sub = dims // m
        spark = corpus.sparkSession
        books = []
        for s in range(m):
            seg = rows[:, s * sub:(s + 1) * sub]
            train = spark.createDataFrame(
                [([float(x) for x in r],) for r in seg], "f array<double>"
            ).select(array_to_vector("f").alias("features"))
            model = KMeans(k=n_codes, seed=seed, maxIter=10).fit(train)
            books.append(
                [[float(x) for x in cw] for cw in model.clusterCenters()]
            )
        return books
    base = [
        [float(x) for x in r["__v"]]
        for r in corpus.orderBy(c_id).limit(n_codes)
        .select(F.col(vec).alias("__v")).collect()
    ]
    dims = len(base[0])
    sub = dims // m
    return [
        [bv[s * sub:(s + 1) * sub] for bv in base] for s in range(m)
    ]


def _pq_codes(V, cmats, scale: float):
    """The ONE PQ encoding rule, on a (rows × dims) float64 batch matrix:
    per subspace, one (rows × codes) squared-L2 distance matrix (an
    interpreted per-row fold measured ~8 s for 2000 rows × 512
    code-distances on one core), and the codeword with the minimum
    distance rounded HALF_UP at ``scale`` = 10**round_digits, ties to the
    lowest code id (numpy argmin is first-occurrence and codebooks arrive
    code-ordered) — the rule the declared oracle replays. Boundary caveat
    identical to :func:`_arrow_assign` (reduction order +
    binary-vs-shortest-decimal rounding, only on exact half-ties of a
    distance at digit round_digits+1) — documented there, recall-gated by
    ``similarity_pq_recall``. Returns (rows × m) int32 codes."""
    import numpy as np

    sub = cmats[0].shape[1]
    codes = np.empty((V.shape[0], len(cmats)), dtype=np.int32)
    for s, cm in enumerate(cmats):
        diff = V[:, None, s * sub:(s + 1) * sub] - cm[None, :, :]
        # distances are >= 0: plain floor(x*scale+0.5) IS half-up
        D = (diff * diff).sum(axis=2)
        codes[:, s] = np.floor(D * scale + 0.5).argmin(axis=1)
    return codes


def _arrow_pq_encode(
    cells: DataFrame,
    id_col: str,
    vec: str,
    codebooks: list[list[list[float]]],
    round_digits: int,
) -> DataFrame:
    """The PQ encoder as a row-local mapInArrow pass over cell-assigned
    ``(id_col, vec, __cell)`` rows: ``(id_col, __codes, __cell)`` out —
    exactly the (id, codes, cell) of an inverted list — with codes by
    :func:`_pq_codes` and the cell riding through untouched."""
    import numpy as np

    m = len(codebooks)
    cmats = [np.array(book, dtype=np.float64) for book in codebooks]
    scale = 10.0 ** round_digits
    id_type = cells.schema[id_col].dataType.simpleString()
    out_schema = f"`{id_col}` {id_type}, `__codes` array<int>, `__cell` bigint"

    # zero-copy matrix ingestion (_vec_matrix); the codes leave as one
    # Arrow list column over a flat buffer, not a Python list of rows
    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            V = _vec_matrix(batch.column(batch.schema.get_field_index(vec)))
            codes = _pq_codes(V, cmats, scale)
            n = batch.num_rows
            codes_arr = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n + 1) * m, m, dtype=np.int32)),
                pa.array(codes.ravel(), type=pa.int32()),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(batch.schema.get_field_index(id_col)),
                    codes_arr,
                    batch.column(batch.schema.get_field_index("__cell")),
                ],
                names=[id_col, "__codes", "__cell"],
            )

    return cells.mapInArrow(gen, out_schema)


def _arrow_pq_score(
    df: DataFrame,
    id_col: str,
    vec: str,
    qrows: list[tuple],
    codebooks: list[list[list[float]]],
    round_digits: int,
    q_id: str,
) -> DataFrame:
    """PQ encode + ADC score in ONE numpy pass: per batch the corpus rows
    are encoded (:func:`_pq_codes`), then each query's cosine against the
    reconstruction is m lookup-table gathers — LUT[s][code] = dot(q_s, codeword) and
    N2[s][code] = |codeword|², both precomputed once from (queries ×
    codebooks). Emits (q_id, id_col, cosine) rows; boundary caveat as
    :func:`_arrow_assign` (the rerank stage re-scores candidates exactly,
    so boundary effects only move the candidate frontier, which the recall
    gate measures)."""
    import numpy as np

    m = len(codebooks)
    sub = len(codebooks[0][0])
    cmats = [np.array(book, dtype=np.float64) for book in codebooks]
    n2 = np.stack([ (cm * cm).sum(axis=1) for cm in cmats ])  # (m, k)
    qids = [qid for qid, _ in qrows]
    Q = np.array([v for _, v in qrows], dtype=np.float64)  # (|Q|, dims)
    qnorm = np.sqrt((Q * Q).sum(axis=1))  # (|Q|,)
    # LUT[qi, s, code] = dot(q_s, codeword)
    lut = np.stack(
        [Q[:, s * sub:(s + 1) * sub] @ cmats[s].T for s in range(m)], axis=1
    )  # (|Q|, m, k)
    scale = 10.0 ** round_digits
    id_type = df.schema[id_col].dataType.simpleString()
    qid_type = "bigint" if isinstance(qids[0], int) else "string"
    out_schema = f"`{q_id}` {qid_type}, `{id_col}` {id_type}, `cosine` double"

    # zero-copy matrix ingestion (_vec_matrix); the (|Q| x rows) output is
    # assembled with an Arrow ``take`` for the tiled corpus ids
    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            V = _vec_matrix(batch.column(batch.schema.get_field_index(vec)))
            rows = V.shape[0]
            codes = _pq_codes(V, cmats, scale)
            subs = np.arange(m)
            rn2 = n2[subs[None, :], codes].sum(axis=1)  # (rows,)
            # dot[qi, row] = sum_s LUT[qi, s, codes[row, s]]
            dots = lut[:, subs[None, :], codes].sum(axis=2)  # (|Q|, rows)
            with np.errstate(divide="ignore", invalid="ignore"):
                cosm = dots / (qnorm[:, None] * np.sqrt(rn2)[None, :])
            r = np.copysign(np.floor(np.abs(cosm) * scale + 0.5), cosm) / scale
            ids = batch.column(batch.schema.get_field_index(id_col))
            nq = len(qids)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(np.array(qids), rows)),
                    ids.take(pa.array(np.tile(np.arange(rows, dtype=np.int64), nq))),
                    pa.array(r.ravel(), type=pa.float64()),
                ],
                names=[q_id, id_col, "cosine"],
            )

    return df.mapInArrow(gen, out_schema)


def _pq_cb_df(spark, codebooks: list[list[list[float]]]) -> DataFrame:
    """The PQ codebook as a ONE-ROW DataFrame ``__cb`` (per codeword: the
    vector and its precomputed |cw|²) — broadcast DATA delivery for the ADC
    scoring expression of the IVF×PQ rung and the index probe: a literal
    would cost thousands of py4j F.lit calls per plan BUILD."""
    cb_data = [
        [
            ([float(x) for x in cw], float(sum(x * x for x in cw)))
            for cw in book
        ]
        for book in codebooks
    ]
    return spark.createDataFrame(
        [(cb_data,)],
        "__cb array<array<struct<cw: array<double>, n2: double>>>",
    )


def _pq_adc_cos(sub: int, round_digits: int) -> Column:
    """Asymmetric-distance cosine — dot(q, reconstruction) / (|q|·|recon|),
    rounded — as a pure column expression over ``__codes`` (the row's PQ
    codes), ``__qv``/``__qnorm`` (the float query), and ``__cb`` (the
    broadcast codebook row from :func:`_pq_cb_df`). One shared definition so
    the inline IVF×PQ rung and the persisted-index probe cannot drift."""

    def seg(col: Column, s: Column) -> Column:
        return F.slice(col, s * sub + F.lit(1), sub)

    codes = F.col("__codes")
    cb = F.col("__cb")
    dotqr = F.aggregate(
        F.transform(
            codes,
            lambda code, s: F.aggregate(
                F.zip_with(
                    seg(F.col("__qv"), s),
                    F.element_at(F.element_at(cb, s + F.lit(1)), code + F.lit(1))["cw"],
                    lambda a, b: a.cast("double") * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    rn2 = F.aggregate(
        F.transform(
            codes,
            lambda code, s: F.element_at(
                F.element_at(cb, s + F.lit(1)), code + F.lit(1)
            )["n2"],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.round(dotqr / (F.col("__qnorm") * F.sqrt(rn2)), round_digits)


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    q_id: str = "q_id",
    c_id: str = "c_id",
    vec: str = "embedding",
    round_digits: int = 6,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Asymmetric product-quantization top-k (FAISS ``PQm`` shape): each
    corpus vector is encoded as ``m`` small code ids — one byte-scale symbol
    per subspace, dims/m × 4 bytes collapsed to ~1 byte each (32× at
    64d/m=8/16 codes vs float32) — and candidates are scored against the
    RECONSTRUCTED codeword vector while queries stay float.

    This is the completion of the quantization ladder (int8 SQ = 4×,
    PQ = 16-32×): at 100 TB, PQ codes are what keeps a billion-vector
    index memory-resident. Plan shape: encode + score are ONE row-local
    mapInArrow pass over the corpus (full ADC — per query a (m × n_codes)
    lookup table of subspace dots is precomputed from the codebooks
    driver-side, |Q|·m·n_codes·sub flops, and each corpus row's cosine is
    m LUT gathers; :func:`_arrow_pq_score`); queries are collected to the
    driver under the same |Q|-is-small contract the other rungs broadcast
    them by; the only hash exchange is the final ranked window on q_id.

    Determinism contract (oracle-replicable): encoding picks per subspace
    the codeword with the minimum L2² distance ROUNDED at ``round_digits``,
    ties to the lowest code id; the final cosine(query, reconstruction) is
    rounded at ``round_digits`` and ranked with an id tiebreak. Recall vs
    the exact rung is a MEASURED contract (``similarity_pq_recall``)."""
    if codebooks is None:
        codebooks = pq_subspace_codebooks(corpus, m, n_codes, c_id, vec)
    qrows = sorted(
        (r[0], [float(x) for x in r[1]])
        for r in queries.select(q_id, vec).collect()
    )
    scored = _arrow_pq_score(
        corpus.select(c_id, vec), c_id, vec, qrows, codebooks,
        round_digits, q_id,
    ).filter(F.col(q_id) != F.col(c_id))
    return _rank_topk(scored, k, q_id, c_id)


def pq_rerank_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    rerank: int = 100,
    m: int = 16,
    n_codes: int = 32,
    q_id: str = "q_id",
    c_id: str = "c_id",
    vec: str = "embedding",
    round_digits: int = 6,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """PQ candidates + exact rerank — how production PQ indexes are actually
    queried (FAISS ``PQm`` + refine): the full corpus is scanned only in its
    CODE form (:func:`pq_topk`, 16-32× fewer bytes than float32) to produce
    ``rerank`` candidates per query, then ONLY those |Q|×rerank rows have
    their float vectors fetched and exactly rescored. PQ's lossy scoring
    costs recall@k directly (measured 32-56% raw on the fixture corpus) but
    barely touches recall@R for R≫k (92-96% at R=100) — the rerank converts
    the cheap scan into an accurate answer, gated by
    ``similarity_pq_recall``.

    Plan shape: two corpus passes (codes scan, candidate fetch) — exactly
    the disk-resident-index + vector-fetch split of a real deployment —
    with the candidate set and queries broadcast; the corpus never
    shuffles, and the only hash exchanges are the ranked windows on q_id."""
    cand = pq_topk(
        queries, corpus, k=rerank, m=m, n_codes=n_codes,
        q_id=q_id, c_id=c_id, vec=vec, round_digits=round_digits,
        codebooks=codebooks,
    ).select(q_id, c_id)
    return _refine(cand, queries, corpus, k, q_id, c_id, vec, round_digits)


def _refine(
    shortlist: DataFrame,
    queries: DataFrame,
    vectors: DataFrame,
    k: int,
    q_id: str,
    c_id: str,
    vec: str,
    round_digits: int,
) -> DataFrame:
    """Exact rerank of a ``(q_id, c_id)`` shortlist, shared by every PQ
    rung: fetch ONLY the shortlist's float vectors from ``vectors`` (a
    broadcast semi-style join, so the vector side never shuffles) and
    rank them by the exact rounded cosine."""
    q = queries.select(F.col(q_id), F.col(vec).alias("__qv"))
    fetched = vectors.select(F.col(c_id), F.col(vec)).join(
        F.broadcast(shortlist), on=c_id
    )
    cos = F.round(cosine(F.col("__qv"), F.col(vec)), round_digits)
    scored = fetched.join(F.broadcast(q), on=q_id).select(
        q_id, c_id, cos.alias("cosine")
    )
    return _rank_topk(scored, k, q_id, c_id)


def _adc_shortlist(
    coded: DataFrame,
    probes: DataFrame,
    codebooks: list[list[list[float]]],
    rerank: int,
    q_id: str,
    c_id: str,
    round_digits: int,
) -> DataFrame:
    """IVF×PQ candidate stage, shared by the inline rung and the
    persisted-index probe: ``coded`` postings ``(c_id, __codes, __cell)``
    meet the (|Q| × n_probe row) probe table through a broadcast hash
    join on the cell id, are scored by the :func:`_pq_adc_cos` expression
    with the KiB codebook as a one-row broadcast, and the top ``rerank``
    per query come back as ``(q_id, c_id)``."""
    qn = probes.withColumn("__qnorm", _norm(F.col("__qv")))
    cand = (
        coded.join(F.broadcast(qn), on="__cell")
        .filter(F.col(q_id) != F.col(c_id))
        .crossJoin(F.broadcast(_pq_cb_df(coded.sparkSession, codebooks)))
        .select(
            q_id, c_id,
            _pq_adc_cos(len(codebooks[0][0]), round_digits).alias("cosine"),
        )
    )
    return _rank_topk(cand, rerank, q_id, c_id).select(q_id, c_id)


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 16,
    n_codes: int = 32,
    rerank: int = 100,
    q_id: str = "q_id",
    c_id: str = "c_id",
    vec: str = "embedding",
    round_digits: int = 6,
    centroids: DataFrame | None = None,
    codebooks: list[list[list[float]]] | None = None,
    assignment: str = "auto",
) -> DataFrame:
    """The full production ANN composition — FAISS ``IVFx,PQy`` + refine
    (IVFADC, Jégou et al. TPAMI'11): an IVF coarse quantizer prunes the
    SEARCH (each query rescans only n_probe of n_centroids cells) while PQ
    codes compress the STORAGE (each rescanned candidate is m code bytes,
    16-32× smaller than float32), and the top-``rerank`` PQ candidates per
    query are exactly rescored from their float vectors. At a billion
    vectors this is the stack that is simultaneously memory-resident (PQ)
    and sublinear-per-query (IVF) — neither rung alone is.

    Plan shape: ONE corpus pass assigns cells and encodes codes (the
    row-local :func:`cell_assigner` projection feeding the Arrow PQ
    encoder, which passes ``__cell`` through); the probe table
    (|Q| × n_probe rows) broadcasts, so candidate generation never
    shuffles the corpus; ADC scoring is the shared
    :func:`_pq_adc_cos` expression with the KiB codebook as broadcast
    DATA; the refine step fetches only |Q| × rerank float vectors via a
    broadcast semi-style join. The only hash exchanges are the two ranked
    windows on q_id.

    Determinism contract (oracle-replicable end to end): deterministic
    prefix quantizer + prefix codebooks by default, affinities / code
    distances / cosines all rounded at ``round_digits`` before ranking with
    id tiebreaks. Recall vs the exact float rung is a MEASURED contract —
    the ``similarity_ivf_pq_recall`` declared query gates the composition,
    whose loss is bounded by its parts (IVF probe miss + PQ candidate
    miss, each separately gated)."""
    if codebooks is None:
        codebooks = pq_subspace_codebooks(corpus, m, n_codes, c_id, vec)
    cells, probes = ivf_assign(
        queries, corpus, n_centroids=n_centroids, n_probe=n_probe,
        q_id=q_id, c_id=c_id, vec=vec, round_digits=round_digits,
        centroids=centroids, assignment=assignment,
    )
    # encode ONCE per corpus row, keeping its cell: the inverted lists of a
    # real deployment store exactly (cell, id, codes)
    coded = _arrow_pq_encode(cells, c_id, vec, codebooks, round_digits)
    shortlist = _adc_shortlist(
        coded, probes, codebooks, rerank, q_id, c_id, round_digits
    )
    return _refine(shortlist, queries, corpus, k, q_id, c_id, vec, round_digits)


def _estimate_corpus_rows(corpus: DataFrame, bound: int) -> int:
    """Row estimate for the auto planner. Fast path: sum the parquet footer
    row counts of the plan's input files — one driver-side metadata read per
    file, no scan, early-exit once past ``bound``. This is exact for a bare
    scan and an upper bound when filters sit above it (safe direction for
    affordability). Non-file plans (in-memory, shuffles between the scan and
    the top) fall back to a bounded limit probe — bounded work at any corpus
    size because ``limit`` short-circuits the scan."""
    try:
        files = corpus.inputFiles()
    except Exception:  # pragma: no cover - defensive
        files = []
    if files and all(f.endswith(".parquet") for f in files):
        try:
            from urllib.parse import urlparse

            import pyarrow.parquet as pq

            total = 0
            for f in files:
                path = urlparse(f).path if "://" in f or f.startswith("file:") else f
                total += pq.ParquetFile(path).metadata.num_rows
                if total > bound:
                    return total
            return total
        except Exception:
            pass
    try:
        return corpus.limit(bound + 1).count()
    except Exception:  # pragma: no cover - defensive
        return bound + 1


def topk(
    queries: DataFrame,
    corpus: DataFrame | None,
    k: int = 10,
    strategy: str = "auto",
    brute_force_max_rows: int = 100_000,
    q_id: str = "q_id",
    c_id: str = "c_id",
    vec: str = "embedding",
    index_path: str | None = None,
    **ivf_kwargs,
) -> DataFrame:
    """Strategy-planning front door for similarity search — the "planner
    function turning naive similarity cross-joins into indexed joins"
    (SURVEY §7 optional item). ``strategy``:

      * ``"brute"`` — exact broadcast cross-join rung;
      * ``"ivf"``   — IVF cells with a sampled-KMeans quantizer (~sqrt(N)
        centroids), the production path;
      * ``"auto"``  — size-based: exact while the corpus row estimate is
        within ``brute_force_max_rows`` (the cross-join is |q| x |corpus|
        row-local work and exact beats approximate whenever affordable),
        IVF beyond it. The estimate is the parquet footer row-count
        statistic when the plan scans parquet files (driver-side metadata
        read, no executor scan; an UPPER bound when filters sit above the
        scan — conservative: it can only steer toward IVF, never toward an
        unaffordable brute pass); any non-file plan falls back to a bounded
        ``limit(bound+1).count()`` probe.

      * ``"index"`` — probe a PERSISTED :func:`build_ann_index` index at
        ``index_path`` (``corpus`` may be None — the index IS the corpus).
        Under ``"auto"``, a provided ``index_path`` always wins: an
        already-built disk index amortizes quantizer + encode, so probing
        it beats re-deriving any inline rung regardless of corpus size.
        ``n_probe``/``rerank`` ride through ``ivf_kwargs``.

    At 100 TB nobody should hand-pick the rung per corpus; pipelines call
    this and get the exact answer when it is cheap and the indexed answer
    when exactness would be a job-killer cross-join."""
    if index_path is not None and strategy in ("auto", "index"):
        spark = queries.sparkSession
        # honor the caller's vec/q_id contract exactly like every inline
        # rung: the probe resolves columns by the INDEX meta's names, so a
        # caller-named vector column is projected onto the index's before
        # probing (otherwise a frame carrying both names would silently
        # score the wrong column)
        meta = _read_index_meta(spark, index_path)
        q = queries.select(F.col(q_id), F.col(vec).alias(meta["vec"]))
        n_probe = ivf_kwargs.pop("n_probe", 4)
        rerank = ivf_kwargs.pop("rerank", 100)
        # the index route consumes exactly n_probe/rerank from ivf_kwargs;
        # anything left would vanish silently — a misspelled kwarg deserves
        # an error, same as Python's own TypeError gives on the inline rungs
        if ivf_kwargs:
            raise TypeError(
                "topk(index_path=...) got unsupported kwargs: "
                f"{sorted(ivf_kwargs)}"
            )
        out = probe_ann_index(
            spark, index_path, q, k=k, n_probe=n_probe, rerank=rerank,
            q_id=q_id,
        )
        # honor the caller's c_id output name like every inline rung (the
        # probe names the corpus-id column by the index meta)
        if meta["c_id"] != c_id:
            out = out.withColumnRenamed(meta["c_id"], c_id)
        return out
    if strategy == "index":
        raise ValueError("strategy='index' requires index_path")
    if corpus is None:
        raise ValueError("corpus is required unless index_path is given")
    if strategy == "auto":
        est = _estimate_corpus_rows(corpus, brute_force_max_rows)
        strategy = "brute" if est <= brute_force_max_rows else "ivf"
    if strategy == "brute":
        return brute_force_topk(queries, corpus, k, q_id=q_id, c_id=c_id, vec=vec)
    if strategy == "ivf":
        n_cent = ivf_kwargs.pop("n_centroids", None)
        cents = ivf_kwargs.pop("centroids", None)
        n_rows: int | None = None
        if n_cent is None:
            if cents is not None:
                # caller-supplied centroids define the cell count — a full
                # corpus.count() here would scan the (by construction
                # >affordability-bound) corpus for a number ivf_topk never
                # uses when centroids are prebuilt; counting the centroid
                # TABLE is sqrt(N) rows
                n_cent = cents.count()
            else:
                n_rows = corpus.count()
                n_cent = max(4, int(n_rows ** 0.5))
        if cents is None:
            # Bound the quantizer FIT, not just its result: a full-corpus
            # KMeans at default iterations is O(N x n_cent x d x iters) —
            # the x100 scaling ladder measured it at 112x wall for 10x data
            # before this cap. ~100 training rows per centroid and 10
            # iterations give the same cell structure (recall stays gated by
            # similarity_ivf_recall) at a build cost bounded by the SAMPLE,
            # not the corpus — the "fit on a sample" rule kmeans_centroids
            # documents, now actually applied by the planner.
            if n_rows is None:
                n_rows = corpus.count()
            frac = min(1.0, (100.0 * n_cent) / max(n_rows, 1))
            cents = kmeans_centroids(
                corpus, vec=vec, n_centroids=n_cent,
                sample_fraction=frac, max_iter=10,
            )
        return ivf_topk(
            queries, corpus, k, n_centroids=n_cent, centroids=cents,
            q_id=q_id, c_id=c_id, vec=vec, **ivf_kwargs,
        )
    raise ValueError(f"unknown strategy: {strategy}")


def _fs_write_text(spark, path: str, text: str) -> None:
    """Write small text metadata (codebooks.json / meta.json) through
    Spark's Hadoop FileSystem API so it lands on the SAME filesystem as the
    index's parquet halves — a build pointed at hdfs://... or s3a://...
    keeps its metadata next to its postings instead of silently writing a
    driver-local POSIX file. ``file:``/bare local paths resolve
    to the local FS, so behavior on a laptop is unchanged."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _fs_exists(spark, path: str) -> bool:
    """Existence probe via the Hadoop FileSystem API — same
    any-filesystem discipline as :func:`_fs_write_text` (an os.path check
    would silently answer about the driver's local disk for an s3a://
    or hdfs:// index)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(p))


def _read_postings(spark, path: str, leaf: str) -> DataFrame:
    """Read an index postings leaf (``codes`` or ``vectors``) with the
    ingest-unit partition column dropped. The on-disk layout is
    ``<leaf>/__ingest=<key>/__cell=<n>/``: every build/append writes its
    OWN ``__ingest`` subdir (build uses ``base``, streaming appends key by
    batch id), which is what makes at-least-once replay naturally
    idempotent — a replayed batch ``mode("overwrite")``-s exactly its own
    directory instead of appending duplicate files. Readers never care
    which ingest unit a posting arrived in, and partition pruning on
    ``__cell`` works unchanged one directory level down, so this helper is
    the single place the extra column is stripped."""
    import os

    return spark.read.parquet(os.path.join(path, leaf)).drop("__ingest")


def _ingest_key(batch_key: str | None) -> str:
    """Resolve/validate an append's ingest-unit directory key. Explicit
    keys come from replayable sources (foreachBatch batch ids) and must be
    path-safe; the default is a fresh random key = plain append
    semantics."""
    import re
    import uuid

    if batch_key is None:
        return uuid.uuid4().hex[:12]
    if not re.fullmatch(r"[A-Za-z0-9._-]{1,64}", batch_key):
        raise ValueError(
            "batch_key must be 1-64 chars of [A-Za-z0-9._-], got "
            f"{batch_key!r}"
        )
    if batch_key == "base":
        raise ValueError(
            "batch_key 'base' is reserved for the build/compaction unit"
        )
    return batch_key


def _fs_delete(spark, path: str) -> None:
    """Recursive delete via the Hadoop FileSystem API (no-op when the
    path does not exist) — same any-filesystem discipline as
    :func:`_fs_exists`."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(p):
        fs.delete(p, True)


def _fs_read_text(spark, path: str) -> str:
    """Read small text metadata via the Hadoop FileSystem API (the read
    half of :func:`_fs_write_text`)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    inp = fs.open(p)
    try:
        # commons-io ships on Spark's classpath; toString drains the stream
        return jvm.org.apache.commons.io.IOUtils.toString(
            inp, jvm.java.nio.charset.StandardCharsets.UTF_8
        )
    finally:
        inp.close()


def _read_index_meta(spark, path: str) -> dict:
    """Read and validate a :func:`build_ann_index` index's ``meta.json``.
    The file is input from outside the program, and every reader assigns
    and encodes new vectors with exactly the backends the index was built
    with — a silently substituted backend could disagree with the build
    on the documented rounding-tie boundaries (:func:`_arrow_assign`). So
    a missing ``assignment``/``encode`` key, or a backend this engine does
    not have, fails loudly instead of being guessed."""
    import json
    import os

    meta = json.loads(_fs_read_text(spark, os.path.join(path, "meta.json")))
    for key, allowed in (("assignment", ("expr", "arrow")), ("encode", ("arrow",))):
        if key not in meta:
            raise ValueError(
                f"index meta.json at {path} has no {key!r} key; rebuild the "
                "index with build_ann_index"
            )
        if meta[key] not in allowed:
            raise ValueError(
                f"index meta.json at {path}: unsupported {key!r} backend "
                f"{meta[key]!r} (expected one of {allowed}); rebuild the "
                "index with build_ann_index"
            )
    return meta


def _index_assigner(spark, path: str, meta: dict):
    """The cell assigner of a built index: its persisted centroid table
    under the backend ``meta.json`` records — what probe, append and the
    from-index dedup readers assign new vectors with, so a vector lands in
    the cell a one-shot build would give it (see :func:`_read_index_meta`)."""
    import os

    return cell_assigner(
        None, n_centroids=meta["n_centroids"], c_id=meta["c_id"],
        vec=meta["vec"], round_digits=meta["round_digits"],
        centroids=spark.read.parquet(os.path.join(path, "centroids")),
        assignment=meta["assignment"],
    )


def build_ann_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    m: int = 16,
    n_codes: int = 32,
    c_id: str = "c_id",
    vec: str = "embedding",
    round_digits: int = 6,
    centroids: DataFrame | None = None,
    codebooks: list[list[list[float]]] | None = None,
    assignment: str = "auto",
) -> dict:
    """Persist a disk-resident IVFADC index: ONE corpus pass assigns cells
    and PQ-encodes every vector, then writes

      * ``centroids/``  — the (sqrt(N)-scale) quantizer table,
      * ``codes/``      — (id, codes) rows ``partitionBy(__cell)``,
      * ``vectors/``    — (id, vec) rows ``partitionBy(__cell)``,
      * ``codebooks.json`` + ``meta.json`` — the KiB codebook and params,

    which IS the inverted-file layout on a data lake: each cell's postings
    are their own parquet files, so a probe that filters on ``__cell``
    resolves through Spark PARTITION PRUNING — only the probed cells'
    files are ever listed or read, the on-disk analogue of scanning 4 of
    16 inverted lists (:func:`probe_ann_index` plan-tests this). Build
    cost is the same single pass the inline ``ivf_pq_topk`` pays per
    query; persisting it amortizes quantizer + encode across every future
    probe, which is how a 100 TB corpus is actually served (build once on
    ingest, probe forever). Default quantizer/codebooks are the
    deterministic prefix rules (oracle-replicable); production passes
    ``kmeans_centroids(...)`` / trained codebooks.

    ``meta.json`` records the cell-assignment backend ``cell_assigner``
    resolved (never ``"auto"``) and the encoder (``"arrow"``): every later
    append and probe assigns and encodes with exactly these, so an
    appended vector lands in the cell and codes a one-shot rebuild would
    give it (the backends differ on documented rounding-tie boundaries,
    :func:`_arrow_assign`)."""
    import json
    import os

    if codebooks is None:
        codebooks = pq_subspace_codebooks(corpus, m, n_codes, c_id, vec)
    m = len(codebooks)
    n_codes = len(codebooks[0])
    if centroids is None:
        centroids = (
            corpus.orderBy(c_id)
            .limit(n_centroids)
            .select(F.col(c_id).alias("cent_id"), vec)
        )
    # materialize the centroid table once: it feeds the assigner here AND
    # is persisted for probe-time reuse
    centroids = centroids.localCheckpoint(eager=False)
    assign = cell_assigner(
        corpus, n_centroids=n_centroids, c_id=c_id, vec=vec,
        round_digits=round_digits, centroids=centroids, assignment=assignment,
    )
    cells = assign(corpus.select(c_id, vec), c_id, 1)
    coded = _arrow_pq_encode(cells, c_id, vec, codebooks, round_digits)
    centroids.write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    # the build is ingest unit "base": every leaf lives one directory
    # under an __ingest=<key> partition so appends own their unit dir and
    # a replayed streaming batch overwrites instead of duplicating (see
    # _read_postings / append_to_ann_index). A REBUILD over an existing
    # index must reset the whole leaf, not just the base unit — clear any
    # prior append units (and a stale tombstone log) first.
    spark = corpus.sparkSession
    for stale in ("codes", "vectors", "tombstones"):
        _fs_delete(spark, os.path.join(path, stale))
    coded.write.mode("overwrite").partitionBy("__cell").parquet(
        os.path.join(path, "codes", "__ingest=base")
    )
    cells.write.mode("overwrite").partitionBy("__cell").parquet(
        os.path.join(path, "vectors", "__ingest=base")
    )
    meta = {
        "n_centroids": n_centroids, "m": m, "n_codes": n_codes,
        "c_id": c_id, "vec": vec, "round_digits": round_digits,
        "encode": "arrow", "assignment": assign.backend,
    }
    _fs_write_text(spark, os.path.join(path, "codebooks.json"), json.dumps(codebooks))
    _fs_write_text(spark, os.path.join(path, "meta.json"), json.dumps(meta))
    return meta


def probe_ann_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    rerank: int = 100,
    q_id: str = "q_id",
) -> DataFrame:
    """Query a :func:`build_ann_index` index without touching the corpus:
    the persisted centroid table (tiny) assigns each query its ``n_probe``
    cells, the probed cell ids become an ``isin`` filter on the
    cell-partitioned ``codes/`` and ``vectors/`` tables — Spark partition
    pruning turns that into reading ONLY those cells' parquet files, the
    exact on-disk inverted-list scan of a production ANN service — and the
    ADC score + exact rerank are the same shared expressions as the inline
    rung, so results are bit-identical to ``ivf_pq_topk`` on the same
    corpus (plan- and equality-tested). Probe cost is independent of
    corpus size outside the probed cells; nothing here rebuilds, re-assigns
    or re-encodes."""
    import json
    import os

    meta = _read_index_meta(spark, path)
    codebooks = json.loads(
        _fs_read_text(spark, os.path.join(path, "codebooks.json"))
    )
    c_id, vec = meta["c_id"], meta["vec"]
    round_digits = meta["round_digits"]
    # assign QUERY vectors with the index's FROZEN backend, like append: an
    # auto-resolved probe of an explicit-'arrow' build would go through
    # expr and diverge on the documented rounding-tie boundaries
    assign = _index_assigner(spark, path, meta)
    probes = assign(queries.select(q_id, vec), q_id, n_probe).withColumnRenamed(
        vec, "__qv"
    )
    # the probe table is |Q| x n_probe rows by contract — collecting the
    # probed cell ids driver-side is what lets the filter below prune
    # partitions at PLAN time instead of scanning every cell's files
    probes = probes.localCheckpoint(eager=False)
    probed_cells = sorted(
        {r["__cell"] for r in probes.select("__cell").distinct().collect()}
    )
    codes = _read_postings(spark, path, "codes").filter(
        F.col("__cell").isin(probed_cells)
    )
    # tombstoned ids never become candidates — a broadcast anti-join on the
    # (small, deletes-are-rare) tombstone table; the vectors fetch below
    # needs no second exclusion because it is keyed by the shortlist
    tomb = _index_tombstones(spark, path, c_id)
    if tomb is not None:
        codes = codes.join(F.broadcast(tomb), on=c_id, how="left_anti")
    shortlist = _adc_shortlist(
        codes, probes, codebooks, rerank, q_id, c_id, round_digits
    )
    vectors = _read_postings(spark, path, "vectors").filter(
        F.col("__cell").isin(probed_cells)
    )
    return _refine(shortlist, queries, vectors, k, q_id, c_id, vec, round_digits)


def _index_tombstones(spark, path: str, c_id: str):
    """The index's tombstone table as a one-column (id) DataFrame, or None
    if no delete has ever been issued. Shared by probe / compact / the
    from-index dedup readers so every consumer excludes deleted ids the
    same way."""
    import os

    tpath = os.path.join(path, "tombstones")
    if not _fs_exists(spark, tpath):
        return None
    return spark.read.parquet(tpath).select(c_id).distinct()


def delete_from_ann_index(batch: DataFrame, path: str) -> dict:
    """Delete vectors from a :func:`build_ann_index` index by id — the
    maintenance verb a SERVED index cannot ship without (right-to-be-
    forgotten / takedown / bad-ingest rollback at 100 TB cannot rebuild
    the index per request). Deletes are TOMBSTONES: the batch's ids land
    as an append-only one-column parquet under ``tombstones/`` — an O(|
    batch|) write that never touches the postings — and take effect
    IMMEDIATELY on every reader (:func:`probe_ann_index`,
    :func:`semantic_dedup_from_index`,
    dedup.incremental_semantic_dedup_from_index) via a broadcast anti-join
    on the (small, deletes-are-rare) tombstone table. The next
    :func:`compact_ann_index` applies them PHYSICALLY — postings dropped,
    tombstone table cleared — so steady-state probe cost never carries an
    ever-growing exclusion list: the same log-then-fold discipline as the
    CDC topic (deletes are rows in a log until compaction materializes
    them).

    Contract: delete WINS until a compaction clears the tombstone — ids
    re-appended while their tombstone is live stay hidden, and that
    compaction drops BOTH the tombstone and every posting of the id (old
    and re-appended). Re-ingesting a deleted id is therefore a
    compact-then-append sequence, never a bare append. ``batch`` needs
    only the index's id column. Returns {"tombstones_appended": |batch|}
    — the BATCH's distinct count only, keeping each delete O(|batch|)
    (re-counting the accumulated log here would make every small takedown
    pay a full log scan; the applied total comes back from
    ``compact_ann_index`` as ``tombstones_applied``)."""
    import os

    spark = batch.sparkSession
    c_id = _read_index_meta(spark, path)["c_id"]
    tpath = os.path.join(path, "tombstones")
    ids = batch.select(c_id).distinct().localCheckpoint(eager=False)
    n = ids.count()
    if n == 0:
        # _index_tombstones keys liveness off directory existence:
        # writing an empty batch would create tombstones/ and
        # permanently route every reader onto the anti-join path despite
        # nothing being deleted
        return {"tombstones_appended": 0}
    ids.write.mode("append").parquet(tpath)
    return {"tombstones_appended": n}


def compact_ann_index(spark, path: str, dedup_ids: bool = False) -> dict:
    """Rewrite the index's cell-partitioned postings into ONE file per cell
    — the maintenance pass a 100 TB serving index needs because
    :func:`append_to_ann_index` adds one file set per ingest batch per
    touched cell, and a probe's cost is bounded by FILES LISTED, not rows
    read: a cell that accumulated 10k tiny append files costs 10k opens
    per probe even though pruning skipped every other cell. The rewrite
    repartitions on ``__cell`` (each cell's rows land in one task, cells
    compact in parallel), touches only codes/ and vectors/ (quantizer,
    codebooks and meta are immutable under compaction by definition), is
    idempotent, and probes are bit-identical before/after
    (equality-tested — including with live tombstones, which compaction
    applies PHYSICALLY and clears: probes already excluded those ids, so
    materializing the deletes changes nothing observable; see
    :func:`delete_from_ann_index`). Durability contract: renames follow
    write-new / stage-old / swap / drop-old on the index's own filesystem;
    a rename that FAILS (returns false) is rolled back in-process, and a
    PROCESS CRASH in the stage→swap window (postings dir missing, original
    stranded under ``__precompact_<leaf>``) is detected and auto-recovered
    on the next compaction — the stranded original is renamed back before
    any rewrite starts, so re-running ``compact_ann_index`` after any
    crash restores a consistent index. Compaction is NOT concurrent-probe
    safe: a probe issued inside the swap window can fail on a missing
    path (single-writer maintenance pass by design — schedule it like any
    table-service OPTIMIZE). Same discipline as the CDC topic's
    ``compact_changes``: fold the append log, change nothing observable.

    ``dedup_ids=True`` additionally drops duplicate postings by id during
    the rewrite — the REPAIR for at-least-once ingest replay:
    ``append_to_ann_index`` inside a foreachBatch is not idempotent, so a
    replayed micro-batch duplicates its postings. Replay rows are
    bit-identical (same vector, frozen quantizer/codebooks → same cell and
    codes deterministically), so keeping one row per id is exact; ids are
    unique in the index by contract (re-appending an id with a DIFFERENT
    vector is an upsert, which this index deliberately does not support —
    that's a recall-gated rebuild decision).

    Returns {"cells": n, "files_before": n, "files_after": n,
    "tombstones_applied": n} so callers (and a compaction-cadence policy)
    can see the fold ratio; ``tombstones_applied`` counts the postings
    ACTUALLY removed from the codes leaf (ids tombstoned but never
    resident contribute zero), so ``n_after == n_before -
    tombstones_applied`` holds when ``dedup_ids`` is off."""
    import os

    id_col = _read_index_meta(spark, path)["c_id"]
    # tombstones are applied PHYSICALLY here (delete_from_ann_index logs
    # them; readers exclude them; compaction materializes the deletes and
    # clears the log). EAGER localCheckpoint: the rewrite below must not
    # re-read the tombstones directory through lazy lineage after the
    # clear — and an anti-join (not a driver-side isin literal) keeps a
    # million-id takedown off the driver and out of the plan tree.
    tomb = _index_tombstones(spark, path, id_col)
    if tomb is not None:
        tomb = tomb.localCheckpoint()
    conf = spark._jsc.hadoopConfiguration()
    jvm = spark._jvm

    def hpath(p):
        hp = jvm.org.apache.hadoop.fs.Path(p)
        return hp.getFileSystem(conf), hp

    def n_files(p):
        fs, hp = hpath(p)
        it = fs.listFiles(hp, True)
        n = 0
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                n += 1
        return n

    before = after = 0
    for leaf in ("codes", "vectors"):
        src = os.path.join(path, leaf)
        # crash recovery: a prior compaction that died between
        # rename(src -> __precompact_) and rename(tmp -> src) leaves the
        # original stranded and the live path missing — restore it before
        # rewriting (a stranded dir WITH a live src is post-swap garbage
        # and is deleted by the normal stage step below).
        fs_r, src_r = hpath(src)
        _, stranded = hpath(os.path.join(path, f"__precompact_{leaf}"))
        if fs_r.exists(stranded) and not fs_r.exists(src_r):
            if not fs_r.rename(stranded, src_r):
                raise IOError(
                    f"compact_ann_index: could not recover stranded "
                    f"__precompact_{leaf}"
                )
        before += n_files(src)
        tmp = os.path.join(path, f"__compacting_{leaf}")
        # compaction FOLDS the ingest units: read every __ingest=<key>
        # subtree, rewrite as one "base" unit — this is what bounds the
        # unit-directory count under continuous streaming ingest
        folded = _read_postings(spark, path, leaf)
        if tomb is not None:
            if leaf == "codes":
                # tombstones_applied = postings ACTUALLY removed, not the
                # log's distinct-id count (tombstones for ids
                # never resident over-report, breaking a caller's
                # n_after == n_before - applied accounting). One broadcast
                # semi-join count over the codes leaf, which this pass
                # fully rewrites anyway.
                n_tomb_applied = folded.join(
                    F.broadcast(tomb), on=id_col, how="left_semi"
                ).count()
            folded = folded.join(F.broadcast(tomb), on=id_col, how="left_anti")
        if dedup_ids:
            # replay duplicates are whole-row identical, so any survivor is
            # THE row; dropDuplicates on the id alone keeps the contract
            # visible (one posting per id per index)
            folded = folded.dropDuplicates([id_col])
        (
            folded.repartition(F.col("__cell"))
            .write.mode("overwrite")
            .partitionBy("__cell")
            .parquet(os.path.join(tmp, "__ingest=base"))
        )
        if n_files(tmp) == 0:
            # tombstones (or a pathological dedup) covered EVERY resident
            # row: swapping in a fileless postings dir would brick every
            # future read of the index AND clear the log that explains
            # why. Abort BEFORE the stage — src and tombstones/ stay
            # intact — because emptying an index is a DROP decision the
            # caller must make explicitly, not a compaction side effect.
            fs_t, tmp_p0 = hpath(tmp)
            fs_t.delete(tmp_p0, True)
            raise ValueError(
                "compact_ann_index: compaction would leave the index "
                "empty (every resident id is tombstoned or deduplicated "
                "away) — drop and rebuild the index instead"
            )
        fs, src_p = hpath(src)
        _, tmp_p = hpath(tmp)
        _, old_p = hpath(os.path.join(path, f"__precompact_{leaf}"))
        fs.delete(old_p, True)
        if not fs.rename(src_p, old_p):
            raise IOError(f"compact_ann_index: could not stage {src}")
        if not fs.rename(tmp_p, src_p):
            fs.rename(old_p, src_p)  # roll back: the original is intact
            raise IOError(f"compact_ann_index: could not swap in {tmp}")
        fs.delete(old_p, True)
        after += n_files(src)
    n_tomb = 0
    if tomb is not None:
        # both leaves rewrote without the deleted ids — clear the log so
        # probes stop paying the anti-join for already-applied deletes
        n_tomb = n_tomb_applied
        fs, tomb_p = hpath(os.path.join(path, "tombstones"))
        fs.delete(tomb_p, True)
    cells = (
        _read_postings(spark, path, "codes")
        .select("__cell").distinct().count()
    )
    return {
        "cells": cells, "files_before": before, "files_after": after,
        "tombstones_applied": n_tomb,
    }


def append_to_ann_index(
    batch: DataFrame, path: str, batch_key: str | None = None
) -> dict:
    """Incremental ingest into a :func:`build_ann_index` index — the
    "build once on ingest, probe forever" loop closed: the NEW batch is
    assigned and PQ-encoded with the index's FROZEN quantizer and
    codebooks (read back from disk; the same frozen-index discipline as
    incremental_semantic_dedup), then written as its OWN ingest unit — a
    ``__ingest=<key>/__cell=<n>/`` subtree under the ``codes/`` and
    ``vectors/`` leaves, ``mode("overwrite")`` on that unit only. The
    existing index is never read, rewritten, or shuffled, so ingest cost
    is O(|batch|) regardless of index size, and a probe issued after the
    append sees the union index bit-for-bit as if it had been built in
    one shot (equality-tested).

    ``batch_key`` is the idempotency handle: pass
    a stable key — e.g. the ``foreachBatch`` batch id — and an
    at-least-once REPLAY of the same batch overwrites exactly its own
    unit directory instead of appending duplicate postings, making
    streaming ingest naturally idempotent with no detect-and-repair
    compaction. Without a key each call gets a fresh random unit (plain
    append semantics). Centroids and codebooks deliberately do NOT drift
    on append: re-training the quantizer is an index REBUILD decision
    (recall-gated), not an ingest side effect."""
    import json
    import os

    spark = batch.sparkSession
    meta = _read_index_meta(spark, path)
    codebooks = json.loads(
        _fs_read_text(spark, os.path.join(path, "codebooks.json"))
    )
    c_id, vec = meta["c_id"], meta["vec"]
    round_digits = meta["round_digits"]
    # ENFORCE the delete-wins contract instead of trusting callers to
    # remember it: appending a tombstoned id would
    # write postings every reader silently excludes until the next
    # compaction purges them too — the caller thinks the id is back, the
    # index disagrees. Re-ingesting a deleted id is compact-then-append by
    # contract, so a live-tombstone overlap is an error here, not a quiet
    # no-op. One broadcast semi-join count over the (small) batch, only
    # when a tombstone log exists at all.
    tomb = _index_tombstones(spark, path, c_id)
    if tomb is not None:
        n_dead = (
            batch.select(c_id).distinct()
            .join(F.broadcast(tomb), on=c_id, how="left_semi").count()
        )
        if n_dead:
            raise ValueError(
                f"append_to_ann_index: {n_dead} batch id(s) are "
                "tombstoned in this index; run compact_ann_index to apply "
                "the deletes, then re-append (delete wins until compaction "
                "— see delete_from_ann_index)"
            )
    cells = _index_assigner(spark, path, meta)(batch.select(c_id, vec), c_id, 1)
    coded = _arrow_pq_encode(cells, c_id, vec, codebooks, round_digits)
    # each append owns its __ingest unit dir: overwrite there is
    # replay-idempotent (same batch_key -> same dir -> same files) and
    # still touches only the batch's cells' subdirectories
    key = _ingest_key(batch_key)
    coded.write.mode("overwrite").partitionBy("__cell").parquet(
        os.path.join(path, "codes", f"__ingest={key}")
    )
    cells.write.mode("overwrite").partitionBy("__cell").parquet(
        os.path.join(path, "vectors", f"__ingest={key}")
    )
    return meta
