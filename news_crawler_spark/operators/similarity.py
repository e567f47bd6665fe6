"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k, all native (`zip_with` dot
product inside codegen — no Python). Scale path: random-hyperplane
LSH bucketing so each query only scores its bucket's candidates —
the shuffle becomes O(n) instead of O(n·q).

At 100 TB the corpus side is the big one: queries are broadcast,
candidates never shuffle for the brute-force scorer; LSH adds one
hash-key shuffle. An IVF variant would replace the hyperplane hash
with a k-means assignment — same join shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _sql_double(x: float) -> str:
    """SQL double literal that parses back to exactly this double.

    ``repr`` emits the shortest decimal that round-trips for float64,
    and Java's ``Double.parseDouble`` returns the nearest double of
    that decimal — the same bits. The ``D`` suffix keeps the SQL
    parser from producing a DECIMAL."""
    return repr(float(x)) + "D"


def _sql_double_array(xs) -> str:
    """SQL ``array(..D, ..D)`` literal text for a vector."""
    return "array(" + ",".join(_sql_double(x) for x in xs) + ")"


def centroid_literal_sql(cent: list[tuple[int, list[float]]]) -> str:
    """One SQL expression string for the centroid literal array.

    Building the same array via nested ``F.lit``/``F.struct`` calls
    costs thousands of py4j round trips (16 centroids x 64 dims was a
    measured ~1.5-2 s of pure driver time PER ivf_assign call); one
    ``F.expr`` hands the whole text to the JVM parser in a single
    call. The per-centroid norm is accumulated in index order — the
    same left-fold the engine-side dot product uses — so values are
    bit-identical to the old form."""
    import math

    parts = []
    for cell, cvec in cent:
        cnorm = 0.0
        for x in cvec:
            cnorm += x * x
        parts.append(
            f"named_struct('cell',{int(cell)},"
            f"'cvec',{_sql_double_array(cvec)},"
            f"'cnorm',{_sql_double(math.sqrt(cnorm))})")
    return "array(" + ",".join(parts) + ")"


def cosine_col(a: str | F.Column, b: str | F.Column) -> F.Column:
    """Cosine similarity of two array<float/double> columns, natively:
    dot/(|a||b|) via zip_with + aggregate (left-fold in codegen)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    return dot(ca, cb) / (F.sqrt(dot(ca, ca)) * F.sqrt(dot(cb, cb)))


def cosine_topk_bruteforce(queries: DataFrame, corpus: DataFrame, k: int,
                           id_col: str = "vec_id", vec_col: str = "embedding",
                           round_to: int = 6) -> DataFrame:
    """Exact top-k neighbors per query (query_id, neighbor_id, sim, rnk).

    Queries are broadcast (small side); the corpus streams through
    without a shuffle; per-query ranking is a window over k·|q| rows.
    """
    from news_crawler_spark.operators.par import spread_scan

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    # the corpus side carries the whole O(|q| x dim) scoring load with
    # no exchange before the rank window — widen a narrow scan
    c = spread_scan(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        F.broadcast(q).crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(cosine_col("qv", "cv"), round_to).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def lsh_ann_topk(queries: DataFrame, corpus: DataFrame, k: int, dim: int,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 n_planes: int = 8, n_tables: int = 4,
                 round_to: int = 6, seed: int = 42) -> DataFrame:
    """Approximate NN: multi-table sign-LSH bucket join + exact cosine
    rerank within buckets. Recall grows with n_tables; the bucket
    equi-join replaces the cross join.

    Buckets come from :func:`rademacher_bucket_col` (sha256-derived ±1
    planes, per-table seeds) — fully native and codegen'd sign-random-
    projection LSH, replayable by ANY engine: the DuckDB oracle
    re-derives every bucket, so multi-table ANN is value-checkable,
    not rows-only. Queries broadcast into each table's bucket join —
    the corpus side never shuffles before the candidate rerank."""
    from news_crawler_spark.operators.par import spread_scan

    corpus = spread_scan(corpus)  # per-row bucket hashing, no exchange
    parts = []
    for t in range(n_tables):
        bucket = rademacher_bucket_col(vec_col, dim, n_planes,
                                       seed=seed + 1000 * t)
        qb = queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
            bucket.alias("bucket"))
        cb = corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
            bucket.alias("bucket"))
        parts.append(cb.join(F.broadcast(qb), "bucket").drop("bucket"))
    cands = parts[0]
    for p in parts[1:]:
        cands = cands.unionByName(p)
    scored = (
        cands.filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .select("query_id", "neighbor_id",
                F.round(cosine_col("qv", "cv"), round_to).alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def ivf_assign(df: DataFrame,
               centroids: DataFrame | list[tuple[int, list[float]]],
               id_col: str = "vec_id",
               vec_col: str = "embedding", out_col: str = "cell",
               nprobe: int = 1) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroid cells —
    with ZERO joins and ZERO shuffles of the big side.

    Centroids are tiny by contract (n_centroids rows), so they come to
    the driver once and become column LITERALS: per row, all centroid
    similarities are elements of one array expression, the top-nprobe
    cells fall out of ``array_sort`` + ``slice``, and the only plan
    nodes over the corpus are Project/Generate — no Exchange at all
    (the r02 form cross-joined corpus x centroids and took the argmax
    with a row_number window partitioned by vec_id: a 16x row blowup
    plus a full corpus shuffle + sort, the dominant cost of IVF at
    100 TB of embeddings; plan-asserted gone in tests/test_plans.py).

    Determinism contract unchanged: ranking orders by the ROUNDED
    similarity (6 dp) with a cell-id tiebreak, so an engine-specific
    last-ulp difference can't flip an assignment and the DuckDB oracle
    replays it value-exactly. The row's own norm is computed once and
    staged behind a Generate barrier (explode of a 1-element array) —
    without it CollapseProject re-inlines the O(dim) fold into every
    centroid element (the HOF-recompute trap).

    ``centroids`` may be a DataFrame (collected here; must be tiny by
    contract) or an already-collected list of ``(cell, vector)``
    tuples — composed operators (ivf_topk, kmeans_fit, ivf_pq_topk)
    pass the list so repeated assignments don't re-run a collect job
    each."""
    if isinstance(centroids, DataFrame):
        cent_pairs = [(int(r[out_col]), r["cvec"]) for r in centroids.collect()]
    else:
        cent_pairs = [(int(c), v) for c, v in centroids]
    cent = sorted(
        ((c, [float(x) for x in v]) for c, v in cent_pairs),
        key=lambda t: t[0],
    )
    # widen a narrow (small-file) scan before the per-row scoring
    # pass — assignment is pure Project/Generate, so with one scan
    # partition it would run single-threaded; no-op at real scale
    from news_crawler_spark.operators.par import spread_scan

    df = spread_scan(df)
    # cast the row vector to double ONCE (HOFs evaluate interpreted —
    # per-centroid re-casting costs dim x n_centroids interpreted
    # casts per row) and stage it with the norm behind the barrier.
    # The whole staging expression AND the scoring expression below are
    # each ONE SQL string handed to the JVM parser in a single F.expr
    # call: the equivalent nested F.transform/F.zip_with/F.aggregate
    # Column-API form cost thousands of py4j round trips of pure
    # driver latency per ivf_assign call (profiled: ~60% of the
    # end-to-end ivf/pq query wall time at bench scale was plan
    # CONSTRUCTION, not execution). The parsed expression trees are
    # identical, so plans and results are unchanged.
    v = f"`{vec_col}`"
    staged = df.select(
        "*",
        F.expr(
            "explode(array(named_struct("
            f"'vn', sqrt(aggregate(zip_with({v}, {v}, "
            "(x, y) -> cast(x as double) * cast(y as double)), "
            "0.0D, (acc, v) -> acc + v)), "
            f"'vd', transform({v}, x -> cast(x as double)))))"
        ).alias("_vs"))

    # centroids enter as ONE literal array of structs and the scoring
    # is ONE transform lambda — not n_centroids inlined fold
    # expressions, which blow past the JIT method-size limit and drop
    # the stage out of whole-stage codegen (measured ~2x slower); the
    # per-centroid norm is precomputed driver-side with the same
    # left-fold order as the engine-side dot, so values are identical.
    # struct natural ordering: ascending (-sim, cell) == the
    # (sim DESC, cell ASC) argmax order.
    picked = (
        f"slice(array_sort(transform({centroid_literal_sql(cent)}, "
        "c -> named_struct("
        "'_negsim', -round(aggregate(zip_with(_vs.vd, c.cvec, "
        "(x, s) -> x * s), 0.0D, (acc, v) -> acc + v) "
        "/ (_vs.vn * c.cnorm), 6), "
        f"'_cell', c.cell))), 1, {int(nprobe)})")
    return (
        staged.select("*", F.expr(f"explode({picked})").alias("_pick"))
        .withColumn(out_col, F.col("_pick._cell"))
        .drop("_pick", "_vs")
    )


def literal_centroids(corpus: DataFrame, n_centroids: int,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      head_n: int | None = None):
    """Seed centroids from one corpus TakeOrdered (``head_n`` rows if
    given, else ``n_centroids``). Returns ``(head_rows, centroids)``
    where ``centroids`` is the plain ``(cell, vector)`` list
    :func:`ivf_assign` consumes directly — no createDataFrame/collect
    round trip per downstream assignment (each cost a scheduled local
    job; the naive composition additionally ran one corpus
    TakeOrdered per consumer). ivf_pq_topk feeds the same head rows
    to the PQ codebooks."""
    head = (corpus.select(id_col, vec_col).orderBy(id_col)
            .limit(head_n or n_centroids).collect())
    cent = [(int(r[id_col]), r[vec_col]) for r in head[:n_centroids]]
    return head, cent


def ivf_topk(queries: DataFrame, corpus: DataFrame, k: int,
             n_centroids: int = 16, nprobe: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding",
             round_to: int = 6) -> DataFrame:
    """IVF (inverted-file) ANN: partition the corpus into centroid
    cells, probe only the query's ``nprobe`` nearest cells — the
    k-means-flavored alternative to hyperplane LSH with the same
    bucket-equi-join scale shape (corpus shuffles once on cell id;
    scoring touches ~nprobe/n_centroids of the corpus per query).

    Centroid choice here is the deterministic seed variant (the first
    ``n_centroids`` corpus vectors by id) so any engine — the DuckDB
    correctness oracle included — reproduces the exact cells; swap in
    Lloyd-refined centroids (kmeans_refine) when recall matters more
    than replayability. Same join shape either way.
    """
    _, centroids = literal_centroids(corpus, n_centroids, id_col, vec_col)
    c_cells = ivf_assign(corpus, centroids, id_col, vec_col, nprobe=1).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), "cell")
    q_cells = ivf_assign(queries, centroids, id_col, vec_col, nprobe=nprobe).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), "cell")
    scored = (
        q_cells.join(c_cells, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                F.round(cosine_col("qv", "cv"), round_to).alias("sim"))
        .dropDuplicates(["query_id", "neighbor_id"])  # nprobe>1 overlap
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(),
                                               F.col("neighbor_id"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k))


def kmeans_refine(corpus: DataFrame, centroids: DataFrame, iters: int = 3,
                  id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Lloyd refinement of IVF centroids: assign → per-cell mean →
    repeat. Each iteration is one literal-centroid assignment plus one
    groupBy mean over (cell, dim) — the centroids (tiny) come back to
    the driver per iteration as a plain list (no per-iteration
    createDataFrame/collect job), the corpus never does."""
    spark = corpus.sparkSession
    schema = None
    cent: DataFrame | list = centroids
    for _ in range(iters):
        assigned = ivf_assign(corpus, cent, id_col, vec_col, nprobe=1)
        means = (
            assigned.select("cell", F.posexplode(vec_col).alias("_d", "_x"))
            .groupBy("cell", "_d").agg(F.avg("_x").alias("_m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("_d", "_m"))).alias("_s"))
            .select("cell", F.transform("_s", lambda s: s.getField("_m")
                                        .cast("float")).alias("cvec"))
        )
        rows = means.collect()  # n_centroids rows — tiny by design
        schema = means.schema
        cent = [(int(r["cell"]), r["cvec"]) for r in rows]
    if isinstance(cent, DataFrame):  # iters == 0
        return cent
    return spark.createDataFrame([(c, v) for c, v in cent], schema)


def rademacher_signs(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """±1 sign-projection planes derived from sha256(seed|plane|dim) —
    Rademacher random projections are a valid sign-LSH family
    (Achlioptas 2001), and unlike seeded-Gaussian numpy planes any
    engine can re-derive them, so the bucketing itself is
    oracle-checkable."""
    import hashlib

    return [
        [1.0 if hashlib.sha256(f"{seed}|plane{p}|{d}".encode()).digest()[0] & 1
         else -1.0 for d in range(dim)]
        for p in range(n_planes)
    ]


def rademacher_bucket_col(vec_col: str | F.Column, dim: int, n_planes: int,
                          seed: int = 42) -> F.Column:
    """Native sign-LSH bucket id: bit p = (vec · signs_p > 0). The dot
    product is a zip_with/aggregate left fold in codegen — bit-exact
    reproducible by any engine folding left in the same order."""
    planes = rademacher_signs(dim, n_planes, seed)
    if isinstance(vec_col, str):
        # hot path: the whole bucket id is ONE SQL string / one parse
        # (plane literals AND the per-plane sign tests) — the Column-
        # API loop cost n_planes x dim py4j round trips per call
        terms = []
        for p, signs in enumerate(planes):
            dotp = (f"aggregate(zip_with(`{vec_col}`, "
                    f"{_sql_double_array(signs)}, "
                    "(x, s) -> cast(x as double) * s), "
                    "0.0D, (acc, v) -> acc + v)")
            terms.append(
                f"(case when {dotp} > 0 then {1 << p} else 0 end)")
        return F.expr("0 + " + " + ".join(terms))
    vec = vec_col
    bucket = F.lit(0)
    for p, signs in enumerate(planes):
        sarr = F.expr(_sql_double_array(signs))
        dotp = F.aggregate(
            F.zip_with(vec, sarr, lambda x, s: x.cast("double") * s),
            F.lit(0.0), lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(dotp > 0, F.lit(1 << p)).otherwise(0)
    return bucket


def embedding_near_dup_pairs(df: DataFrame, threshold: float = 0.95,
                             id_col: str = "vec_id", vec_col: str = "embedding",
                             dim: int = 64, n_planes: int = 6,
                             seed: int = 42, round_to: int = 6) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via sign-LSH blocking:
    bucket equi-join (never all-pairs) → exact cosine within buckets →
    threshold on the ROUNDED similarity (both engine and oracle round
    before comparing, so a borderline pair can't flake the gate).

    n_planes trades recall for bucket size: 2^n buckets, a near-dup
    pair collides with prob (1 - θ/π)^n. For guaranteed-recall sweeps
    run multiple seeds and union (multi-table LSH, see lsh_ann_topk).
    """
    from news_crawler_spark.operators.par import spread_scan

    keyed = spread_scan(df).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"),
        rademacher_bucket_col(vec_col, dim, n_planes, seed).alias("bucket"),
    )
    a = keyed.select(F.col("_id").alias("id_a"), F.col("_v").alias("va"), "bucket")
    b = keyed.select(F.col("_id").alias("id_b"), F.col("_v").alias("vb"), "bucket")
    sim = F.round(cosine_col("va", "vb"), round_to)
    # single-table: every id lives in exactly one bucket, so each pair
    # is produced at most once — no dedup exchange needed
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def semantic_dedup(corpus: DataFrame, threshold: float = 0.9,
                   n_centroids: int = 16, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   round_to: int = 6) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster the embedding space, compare cosine
    similarity only WITHIN each cluster, and drop every document that
    has a same-cluster neighbor above ``threshold`` with a smaller id
    (the deterministic keep-first policy; the paper's keep-farthest-
    from-centroid variant is one ORDER BY swap away).

    Returns one row per corpus vector: ``(vec_id, cell, keep)``.

    Scale shape (100 TB of embeddings):
    - Cluster assignment reuses :func:`ivf_assign` — centroids enter
      as column literals, so assignment is Project/Generate only,
      ZERO exchanges of the corpus.
    - The within-cell pair generation is a single self-equi-join on
      ``cell`` (two shuffles of (id, vec, cell), never all-pairs).
      Per-cell work is quadratic in cell size — the published
      algorithm's contract — so ``n_centroids`` must scale with the
      corpus (SemDeDup uses ~100k clusters for LAION-scale data) to
      keep cells bounded; cells are also the natural AQE skew-split
      unit if the embedding space is lumpy.
    - The verdict is an aggregate (max over neighbors), not a join
      back to text: documents never rescan.

    Centroids are the deterministic seed variant (first
    ``n_centroids`` vectors by id, same as :func:`ivf_topk`) so the
    DuckDB oracle replays the exact cells; similarities are ROUNDED
    before thresholding so a borderline pair can't flip between
    engines.
    """
    centroids = (
        corpus.orderBy(id_col).limit(n_centroids)
        .select(F.col(id_col).cast("int").alias("cell"),
                F.col(vec_col).alias("cvec"))
    )
    assigned = ivf_assign(corpus, centroids, id_col, vec_col, nprobe=1)
    a = assigned.select(F.col(id_col).alias("_ida"),
                        F.col(vec_col).alias("va"), "cell")
    b = assigned.select(F.col(id_col).alias("_idb"),
                        F.col(vec_col).alias("vb"), "cell")
    sim = F.round(cosine_col("va", "vb"), round_to)
    # a doc is dropped when ANY smaller-id same-cell neighbor clears
    # the threshold; bool_or folds that per doc map-side
    dropped = (
        a.join(b, "cell")
        .filter(F.col("_idb") < F.col("_ida"))
        .groupBy("_ida")
        .agg(F.max(sim >= threshold).alias("_dup"))
        .filter(F.col("_dup"))
        .select(F.col("_ida").alias("_drop_id"))
    )
    return (
        assigned.join(
            dropped, assigned[id_col] == dropped["_drop_id"], "left")
        .select(F.col(id_col), F.col("cell"),
                F.col("_drop_id").isNull().alias("keep"))
    )
