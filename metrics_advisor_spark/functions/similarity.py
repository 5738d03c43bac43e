"""Similarity search over embedding columns (array<float>).

Two paths, as a 100 TB ANN design demands:

- ``brute_force_topk``: exact cosine top-k — broadcast the (small) query
  set against the corpus, JVM-side ``zip_with``/``aggregate`` arithmetic
  (no Python), one window for the top-k.  The baseline and the re-rank
  stage.
- ``srp_buckets`` / ``lsh_topk``: signed-random-projection LSH — each
  vector gets a b-bit bucket from the signs of b pseudo-random ±1
  hyperplanes (derived from md5 parity, so engine-neutral and
  deterministic).  Candidates = same bucket; exact cosine re-ranks.
  At scale the bucket join replaces the corpus-wide cross join, and the
  bucket column doubles as the partition key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _fanout_scan(df: DataFrame) -> DataFrame:
    """Round-robin fanout of an under-parallel corpus scan feeding a
    per-row compute-heavy broadcast join (the exact-audit operators):
    the interpreted HOF folds cost ~µs/row × corpus×queries, and a
    single-file local scan serializes all of it onto one task (measured:
    knn_graph 5.2 s of runTime on ONE task; 32-way ≈ 0.4 s).  At real
    scale the scan has thousands of splits and this is a no-op — the
    repartition fires only when the scan's parallelism is below the
    scheduler's, so no corpus-sized shuffle is ever added on a cluster.
    Arithmetic (ordered IEEE folds, oracle-mirrored) is untouched; only
    task layout changes, and the per-query window ranking is
    layout-invariant."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def cosine_col(a: F.Column, b: F.Column) -> F.Column:
    """Cosine similarity of two array<float|double> columns (JVM HOFs)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    nb = F.sqrt(
        F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    return F.try_divide(dot, na * nb)


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_id, vec_id, cosine, rank).

    Queries are broadcast (the small side); self-matches are excluded.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = _fanout_scan(corpus.select(F.col(id_col), F.col(vec_col)))
    scored = (
        c.join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.round(cosine_col(F.col("q_vec"), F.col(vec_col)), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def l2_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact Euclidean top-k: (query_id, vec_id, dist, rank) — the
    ground truth for PQ/IVF-PQ recall audits (PQ's own metric, so
    recall measures index quality, not a cosine-vs-L2 mismatch).

    Queries broadcast; distances are ordered zip_with folds (identical
    IEEE tree in the oracle); ties break on vec_id; self-matches
    excluded."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv"),
    )
    # no _fanout_scan here: l2_topk's one consumer (ann_recall_audit)
    # measured a 2.43 -> 2.75 s regression with the corpus repartition
    # (the exact arm is persisted+counted inside a much larger audit
    # plan, so the extra round-robin exchange costs more than the
    # serial-scan time it recovers) — OPTIMIZATION_r15.md
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cv"),
    )
    d = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("vec_id").asc()
    )
    return (
        c.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", d.alias("dist"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _plane_sign(bit: F.Column, dim: F.Column) -> F.Column:
    """Deterministic ±1 hyperplane entry from md5 parity — the same
    expression evaluates identically in DuckDB."""
    hex_digit = F.substring(
        F.md5(F.concat_ws("_", bit.cast("string"), dim.cast("string"))), 1, 1
    )
    val = F.conv(hex_digit, 16, 10).cast("int")
    return F.when(val % 2 == 1, F.lit(1.0)).otherwise(F.lit(-1.0))


def srp_buckets(
    df: DataFrame,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 1,
) -> DataFrame:
    """Signed-random-projection bucket ids: (vec_id, table_id, bucket).

    Per table t: bucket = Σ_b [dot(v, plane_{t,b}) > 0] · 2^b, planes
    being md5-parity ±1 vectors (plane index = t·n_bits + b).  Multiple
    tables give the standard OR-amplification: a true neighbor is a
    candidate if it collides in ANY table.  Pure explode + aggregate:
    scales linearly in rows × dims × tables.
    """
    comp = df.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("dim", "x")
    )
    planes = df.sparkSession.range(n_tables * n_bits).select(
        (F.col("id") / n_bits).cast("int").alias("table_id"),
        (F.col("id") % n_bits).cast("int").alias("bit"),
        F.col("id").cast("int").alias("plane"),
    )
    bits = comp.join(F.broadcast(planes))
    dots = bits.groupBy(id_col, "table_id", "bit").agg(
        F.sum(
            F.col("x").cast("double") * _plane_sign(F.col("plane"), F.col("dim"))
        ).alias("dot")
    )
    return dots.groupBy(id_col, "table_id").agg(
        F.sum(
            F.when(
                F.col("dot") > 0,
                # SQL form: shiftleft with a column bit count
                F.expr("shiftleft(CAST(1 AS BIGINT), bit)"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias("bucket")
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 4,
) -> DataFrame:
    """Approximate top-k: SRP bucket join (any-table collision) + exact
    cosine re-rank.

    Recall < 1 by construction (bucket misses); the candidate set is the
    union of same-bucket sets across tables instead of |corpus| — the
    scale path.  Tune (n_bits, n_tables) for the recall/cost point.
    """
    cb = srp_buckets(corpus, n_bits, id_col, vec_col, n_tables)
    qb = srp_buckets(queries, n_bits, id_col, vec_col, n_tables)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    ).join(
        qb.select(
            F.col(id_col).alias("query_id"),
            F.col("table_id").alias("q_table"),
            F.col("bucket").alias("q_bucket"),
        ),
        "query_id",
    )
    c = corpus.join(cb, id_col)
    cand = (
        c.join(
            F.broadcast(q),
            (F.col("table_id") == F.col("q_table"))
            & (F.col("bucket") == F.col("q_bucket"))
            & (F.col(id_col) != F.col("query_id")),
        )
        .select("query_id", id_col, "q_vec", vec_col)
        .dropDuplicates(["query_id", id_col])  # collided in ≥1 table
    )
    scored = cand.select(
        "query_id",
        id_col,
        F.round(cosine_col(F.col("q_vec"), F.col(vec_col)), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: coarse quantizer + probed exact re-rank
    (the classic inverted-file ANN layout).

    Build: cluster the corpus into ``n_lists`` cells; the model is a
    tiny broadcast of n_lists×d centroids.  Search: each query scores
    only the ``n_probe`` nearest cells' members — the candidate set
    shrinks from |corpus| to ~|corpus|·n_probe/n_lists, and the cell
    id doubles as the partition key at scale.  Recall < 1 by
    construction; raise n_probe toward n_lists to trade cost back for
    recall.

    The quantizer is the deterministic seeded one-step-Lloyd codebook
    from `functions/pq.pq_codebook` with m=1 — the same coarse
    quantizer as `ivfpq_search`, no RNG, and therefore fully
    oracle-expressible.  ``coarse`` injects a PRE-TRAINED
    (s, code, centroid) quantizer instead — an IVF index is fit once
    and searched many times, and the seeded fit is deterministic, so an
    injected codebook with the same (corpus, n_lists) is
    value-identical to the per-call fit it skips.  Cells with more
    Lloyd steps come from `pq_codebook(m=1, iterations=N)` injected
    here; the injection must hold exactly codes 0..n_lists−1.
    """
    from metrics_advisor_spark.functions.pq import (
        _floor6,
        _sq_dist,
        pq_codebook,
        pq_encode,
    )

    if coarse is None:
        coarse = pq_codebook(
            corpus, m=1, k=n_lists, id_col=id_col, vec_col=vec_col
        )
    else:
        # ADVICE r11: an injected codebook that disagrees with
        # n_lists would silently change the cell count and pruning
        # semantics while n_lists still looks authoritative in the
        # call — validate the (KB-scale, usually LocalRelation)
        # injection before using it, mirroring _ivfpq_parts'
        # both-or-neither pairing check.
        got = sorted(
            (r["s"], r["code"])
            for r in coarse.select("s", "code").collect()
        )
        want = [(0, c) for c in range(n_lists)]
        if got != want:
            raise ValueError(
                f"ivf_topk: injected coarse codebook has cells "
                f"{got[:8]}{'…' if len(got) > 8 else ''} but "
                f"n_lists={n_lists} demands exactly s=0, codes "
                f"0..{n_lists - 1} — stale or mismatched index "
                f"injection"
            )
    centers_df = coarse.select(F.col("code").alias("cell"), "centroid")
    assigned = (
        pq_encode(corpus, coarse, m=1, id_col=id_col, vec_col=vec_col)
        .select("vec_id", F.col("code").alias("cell"))
        .join(
            corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col)),
            "vec_id",
        )
        .select(
            F.col("vec_id").alias(id_col), vec_col,
            F.col("cell").alias("_cell"),
        )
    )
    # same floor-form snap + cell tiebreak as the ivfpq probe, so the
    # oracle's row_number ordering is bit-identical
    dist2 = _floor6(
        _sq_dist(
            F.transform(F.col("q_vec"), lambda x: x.cast("double")),
            F.col("centroid"),
        )
    )
    # each query probes its n_probe closest centroids (euclidean, as the
    # quantizer was trained); the centroid table is tiny → broadcast
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("_d2").asc(), F.col("cell").asc()
    )
    probes = (
        q.join(F.broadcast(centers_df))
        .withColumn("_d2", dist2)
        .withColumn("_pr", F.row_number().over(wq))
        .filter(F.col("_pr") <= n_probe)
        .select("query_id", "q_vec", F.col("cell").alias("p_cell"))
    )
    cand = assigned.join(
        F.broadcast(probes),
        (F.col("_cell") == F.col("p_cell"))
        & (F.col(id_col) != F.col("query_id")),
    ).select("query_id", id_col, "q_vec", vec_col)
    scored = cand.select(
        "query_id",
        id_col,
        F.round(cosine_col(F.col("q_vec"), F.col(vec_col)), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_gram_cells: int = 4_000_000,
    bucket_split_above: int = 8192,
    sub_cell_target: int = 1024,
    sub_probe: int = 2,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via SRP blocking + an IN-TASK
    vectorized candidate kernel + exact SQL re-check.

    r10 rewrite (×10 probe, SCALE.md §18.3): the original bucket
    SELF-JOIN materialized Σ n_bucket² candidate ROWS through a
    shuffle WITH both 64-dim vectors attached — on a clustered corpus
    (SRP buckets of gaussian-cluster data are heavily skewed) that is
    tens of GB of shuffle for a 20k-vector corpus and went >25 min at
    ×10.  Same lesson as the Hamming kernel: n² FLOPs in cache beat n²
    rows through a shuffle.  Now each (table, bucket) group runs one
    chunked numpy gram-matrix prefilter (``max_gram_cells`` bounds the
    transient chunk) and emits ONLY id pairs whose numpy cosine ≥
    threshold − 2e-6; vectors are re-attached by join and the
    AUTHORITATIVE filter is the same SQL `cosine_col` round-6dp
    expression as before, so emitted values (and the contract hash)
    are identical — the margin covers the float64 summation-order gap
    between numpy and the SQL fold, which is ~1e-12 relative while
    round-6dp needs only 5e-7 slack.  Explicit repartition on the
    group keys (the AQE size-based-coalescing lesson, SCALE.md §18.1)
    keeps per-bucket compute spread across tasks.

    MEASURED boundary (×100 probe, SCALE.md §18.5) and the r11
    auto-route: on heavily CLUSTERED corpora SRP sign-patterns
    concentrate each cluster into a handful of buckets (raising
    n_bits splits clusters far more slowly than uniform data), so
    bucket sizes — and the Σ n_bucket² term — grow linearly with the
    corpus; the pairwise kernel alone was measured killed at ×100.
    Rather than routing users to `semdedup` via documentation, the
    operator now takes the cluster-then-cap path ITSELF whenever a
    bucket exceeds ``bucket_split_above`` vectors: an in-task,
    seeded-deterministic numpy k-means splits the bucket into
    ``ceil(n/sub_cell_target)`` sub-cells and each vector is scored
    within its ``sub_probe`` nearest sub-cells only (multi-probe
    membership absorbs most boundary splits — near-identical vectors
    have near-identical centroid distances, so their top-2 cell sets
    overlap almost surely).  Work per bucket drops from n² to
    ~Σ (sub_probe·sub_cell_target)² · n/sub_cell_target, i.e. LINEAR
    in n at fixed cell size.  Below the threshold nothing changes —
    the exact gram prefilter runs as before, so contract-scale output
    (and its hash) is untouched.  Above it, recall becomes
    SemDeDup-grade within oversized buckets (a pair can be missed if
    k-means separates it in BOTH SRP tables), while emitted VALUES
    stay exact — the authoritative SQL cosine re-check is unchanged.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    b = df.join(srp_buckets(df, n_bits, id_col, vec_col, n_tables=2), id_col)
    margin = 2e-6

    def gram_pairs(ids, u):
        """Chunked exact gram prefilter over one (sub-)group; returns
        (a_ids, b_ids) lists with a<b."""
        n = len(ids)
        outa, outb = [], []
        chunk = max(1, max_gram_cells // n)
        for i0 in range(0, n, chunk):
            g = u[i0 : i0 + chunk] @ u.T
            ai, bi = np.nonzero(
                (g >= threshold - margin)
                & (ids[i0 : i0 + chunk, None] < ids[None, :])
            )
            if len(ai):
                outa.append(ids[i0 + ai])
                outb.append(ids[bi])
        return outa, outb

    def split_cells(u, n):
        """Seeded in-task k-means (Lloyd on normalized vectors ==
        spherical k-means) → per-vector top-``sub_probe`` cell ids.
        Deterministic: input is pre-sorted by id and the init draw is
        a fixed-seed RandomState over that order."""
        k = min(n, -(-n // sub_cell_target))
        rng = np.random.RandomState(7)
        cent = u[rng.choice(n, size=k, replace=False)]
        for _ in range(4):
            # n×k dot-products, chunked to the same transient bound
            # as the gram kernel
            assign = np.empty(n, dtype=np.int64)
            step = max(1, max_gram_cells // k)
            for i0 in range(0, n, step):
                assign[i0:i0 + step] = np.argmax(
                    u[i0:i0 + step] @ cent.T, axis=1
                )
            for c in range(k):
                m = assign == c
                if m.any():
                    v = u[m].sum(axis=0)
                    nv = np.linalg.norm(v)
                    if nv > 0:
                        cent[c] = v / nv
        top = np.empty((n, sub_probe), dtype=np.int64)
        step = max(1, max_gram_cells // k)
        p = min(sub_probe, k)
        for i0 in range(0, n, step):
            d = u[i0:i0 + step] @ cent.T
            top_p = np.argpartition(-d, p - 1, axis=1)[:, :p]
            top[i0:i0 + step, :p] = top_p
            if p < sub_probe:
                top[i0:i0 + step, p:] = top_p[:, :1]
        return k, top

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy(np.int64)
        n = len(ids)
        empty = pd.DataFrame(
            {"vec_a": pd.Series([], dtype="int64"),
             "vec_b": pd.Series([], dtype="int64")}
        )
        if n < 2:
            return empty
        v = np.asarray(
            [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
        )
        order = np.argsort(ids)
        ids, v = ids[order], v[order]
        with np.errstate(divide="ignore", invalid="ignore"):
            u = v / np.sqrt((v * v).sum(axis=1))[:, None]
        outa, outb = [], []
        if n <= bucket_split_above:
            outa, outb = gram_pairs(ids, u)
        else:
            # cluster-then-cap auto-route (see docstring): sub-cell
            # membership = union over the top-sub_probe assignments;
            # a pair is scored once per shared cell and deduped by the
            # downstream dropDuplicates.  nan rows (zero-norm vectors)
            # would poison the centroid sums, so cluster on a zeroed
            # copy — the gram step still sees the nan originals, which
            # can never reach the threshold.
            k, top = split_cells(np.nan_to_num(u), n)
            for c in range(k):
                m = np.nonzero((top == c).any(axis=1))[0]
                if len(m) >= 2:
                    a, b = gram_pairs(ids[m], u[m])
                    outa.extend(a)
                    outb.extend(b)
        if not outa:
            return empty
        return pd.DataFrame(
            {"vec_a": np.concatenate(outa), "vec_b": np.concatenate(outb)}
        )

    n_part = max(spark.sparkContext.defaultParallelism * 2, 8)
    cand = (
        b.repartition(n_part, "table_id", "bucket")
        .groupBy("table_id", "bucket")
        .applyInPandas(score, "vec_a long, vec_b long")
        .dropDuplicates(["vec_a", "vec_b"])
    )
    va = df.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("vb"))
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(cosine_col(F.col("va"), F.col("vb")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def semdedup(
    corpus: DataFrame,
    threshold: float = 0.9,
    n_lists: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    max_iter: int = 4,
    init_mode: str = "random",
    max_tile_cells: int = 16_000_000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with a KMeans coarse quantizer,
    score exact cosine only WITHIN each cluster, and drop every
    non-keeper of the ≥ ``threshold`` pair graph (keeper = component min
    id, matching the engine's other dedup materializers; the paper keeps
    the lowest-centroid-similarity member — a policy knob, not a
    structural difference).

    100 TB design: the quadratic pair work is confined to single cells —
    never corpus×corpus — and the cell id is the partition key of the
    Arrow-batched per-cell matmul.  Cluster granularity IS the skew/cost
    control: cells should hold ~1k vectors (the paper uses 50k clusters
    for 5B docs); the KMeans fit itself is a Spark job whose model
    broadcast is tiny (n_lists × dim doubles).  Label propagation then
    runs on the (sparse) dup graph only.

    ``n_lists=None`` (the default) DERIVES the cell count from the
    corpus: ``max(16, ceil(count/1000))`` — the ~1k-vectors-per-cell law
    the ×100 scale probe measured (SCALE.md §18.5: a fixed 16 cells dies
    at 200k vectors with ~12.5k-vector cells, while corpus-proportional
    granularity completes in ~540 s).  The one extra ``count()`` pass is
    noise next to the Lloyd iterations (each is a full corpus pass), and
    an operator whose safe operation depends on a knob the caller must
    already know the answer to is not safe — pass an explicit int only
    to pin granularity (e.g. reproducing a prior run).

    The quantizer only needs dedup-grade cells (identical/near-identical
    vectors land together for ANY centroid set), so the default fit is
    deliberately cheap: random init (k-means|| init alone costs several
    distributed passes) and ``max_iter`` capped at 4 — each Lloyd
    iteration is a full corpus pass, and the exact-dup guarantee
    (identical vectors share a cell) holds for ANY centroid set.  Raise
    both only if near-dup RECALL across cell boundaries matters more
    than fit cost (the paper's regime).

    ``id_col`` may be any orderable type (int, string, …): the pair
    schema is derived from the input id type and the min/max-id
    canonicalization runs on the original dtype.  ``max_tile_cells``
    bounds the per-task score-tile memory: a cell larger than
    max_tile_cells / cell_size rows is scored in row chunks
    (S = X[i:j] @ Xᵀ), so a paper-scale 50k-vector cell peaks at
    ~max_tile_cells·8 bytes instead of cell² (20 GB).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from metrics_advisor_spark.functions.dedup import propagate_labels

    corp = corpus.select(
        F.col(id_col), F.col(vec_col),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("_feat"),
    )
    if n_lists is None:
        n_lists = max(16, -(-corpus.count() // 1000))
    model = KMeans(
        k=n_lists, seed=seed, featuresCol="_feat", predictionCol="_cell",
        maxIter=max_iter, initMode=init_mode,
    ).fit(corp)
    # Within-cell similarity as ONE BLAS matmul per cell (round-5
    # rewrite): the previous formulation self-joined the cell and
    # evaluated an interpreted HOF dot per pair — O(Σ cellᵢ²·d) lambda
    # evaluations; applyInPandas ships each cell through Arrow once and
    # X·Xᵀ runs vectorized (measured 6.1 → ~1.5 s at sf0.1, identical
    # pair set).  Cell granularity remains the memory/cost knob: a cell
    # must fit one task (cellᵢ × d doubles + the cellᵢ² score tile; the
    # paper's 50k-vector cells ≈ 20 GB tile would instead chunk rows —
    # noted in-line).  Exactness: only the ≥ threshold DECISION is
    # consumed (kept ids), identical vectors score exactly 1.0, and the
    # planted-vs-natural cosine margin (≈0.51 vs 0.9) is ulp-immune.
    import numpy as np
    import pandas as pd

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["_id"].to_numpy()
        empty = pd.DataFrame(
            {"doc_a": pdf["_id"][:0], "doc_b": pdf["_id"][:0]}
        )
        if len(ids) < 2:
            return empty
        X = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf["_vec"]]
        )
        nrm = np.linalg.norm(X, axis=1, keepdims=True)
        with np.errstate(divide="ignore", invalid="ignore"):
            X = X / nrm  # zero-norm rows → nan → never ≥ threshold
        # row-chunked matmul: each tile is ≤ max_tile_cells scores, so
        # a paper-scale cell never materializes the full cell² tile
        step = max(1, max_tile_cells // len(ids))
        out_a, out_b = [], []
        for s in range(0, len(ids), step):
            S = np.round(X[s:s + step] @ X.T, 6)
            ia, ib = np.nonzero(S >= threshold)
            ia = ia + s
            keep = ib > ia  # strict upper triangle, global indices
            out_a.append(ia[keep])
            out_b.append(ib[keep])
        ia = np.concatenate(out_a) if out_a else np.array([], dtype=int)
        if ia.size == 0:
            return empty
        ib = np.concatenate(out_b)
        av, bv = ids[ia], ids[ib]
        swap = av > bv  # canonical (min, max) id order, any dtype
        return pd.DataFrame(
            {"doc_a": np.where(swap, bv, av),
             "doc_b": np.where(swap, av, bv)}
        )

    assigned = model.transform(corp).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_vec"),
        "_cell",
    )
    id_dt = corpus.schema[id_col].dataType.simpleString()
    # explicit fanout: the per-cell matmul is compute-per-row, so the
    # byte-based AQE coalesce must not collapse the cell exchange onto
    # one task (see partitioning.udf_fanout)
    from metrics_advisor_spark.partitioning import udf_fanout

    pairs = udf_fanout(assigned, "_cell").groupBy("_cell").applyInPandas(
        cell_pairs, f"doc_a {id_dt}, doc_b {id_dt}"
    )
    labels = propagate_labels(pairs)
    losers = labels.filter(F.col("doc_id") != F.col("label")).select(
        F.col("doc_id").alias(id_col)
    )
    return corpus.join(losers, id_col, "left_anti")


def embedding_norms(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shards: int = 8,
) -> DataFrame:
    """Per-shard embedding L2-norm profile: (shard, n_vecs, avg/min/max
    norm).  The standard pre-ANN sanity pass (catches unnormalized or
    zero vectors before they poison cosine blocking).  One narrow
    projection + one tiny hash aggregate keyed by shard."""
    norm = F.sqrt(
        F.aggregate(
            F.col(vec_col),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )
    return (
        df.select((F.col(id_col) % shards).alias("shard"), norm.alias("norm"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("norm"), 6).alias("avg_norm"),
            F.round(F.min("norm"), 6).alias("min_norm"),
            F.round(F.max("norm"), 6).alias("max_norm"),
        )
    )


def lsh_knn_graph(
    corpus: DataFrame,
    node_pred: F.Column,
    k: int = 3,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 2,
) -> DataFrame:
    """Approximate k-NN graph over ``corpus`` for the node subset
    selected by ``node_pred`` — :func:`lsh_topk` specialized for
    nodes ⊆ corpus: SRP buckets are computed ONCE for the corpus and the
    node side is a filter of that result (halves the bucket pass, which
    dominates the query)."""
    cb = srp_buckets(corpus, n_bits, id_col, vec_col, n_tables)
    qb = cb.filter(node_pred).select(
        F.col(id_col).alias("query_id"),
        F.col("table_id").alias("q_table"),
        F.col("bucket").alias("q_bucket"),
    )
    q = corpus.filter(node_pred).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    ).join(qb, "query_id")
    c = corpus.join(cb, id_col)
    cand = (
        c.join(
            F.broadcast(q),
            (F.col("table_id") == F.col("q_table"))
            & (F.col("bucket") == F.col("q_bucket"))
            & (F.col(id_col) != F.col("query_id")),
        )
        .select("query_id", id_col, "q_vec", vec_col)
        .dropDuplicates(["query_id", id_col])
    )
    scored = cand.select(
        "query_id",
        id_col,
        F.round(cosine_col(F.col("q_vec"), F.col(vec_col)), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def quantization_audit(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension int8 affine quantization audit: scale / zero-point
    from the dimension's [min, max] plus the mean reconstruction error
    — the go/no-go table before shipping a quantized ANN index.

    One posexplode + one (dim-keyed, bounded-cardinality) aggregate for
    the ranges; the error re-uses the same exploded frame joined to the
    (tiny, broadcast) per-dim table.  Degenerate dims (min == max)
    quantize to the constant with zero error.
    """
    ex = emb.select(
        F.posexplode(vec_col).alias("dim", "x")
    ).select("dim", F.col("x").cast("double").alias("x"))
    rng = ex.groupBy("dim").agg(
        F.min("x").alias("lo"), F.max("x").alias("hi"),
        F.count("*").alias("n"),
    )
    scale = F.when(
        F.col("hi") > F.col("lo"), (F.col("hi") - F.col("lo")) / 255.0
    ).otherwise(F.lit(1.0))
    q = F.round((F.col("x") - F.col("lo")) / F.col("sc"))
    deq = q * F.col("sc") + F.col("lo")
    return (
        ex.join(F.broadcast(rng.withColumn("sc", scale)), "dim")
        .select("dim", "lo", "hi", "sc", ((F.col("x") - deq) ** 2).alias("e2"))
        .groupBy("dim")
        .agg(
            F.round(F.max("lo"), 6).alias("lo"),
            F.round(F.max("hi"), 6).alias("hi"),
            F.round(F.max("sc"), 6).alias("scale"),
            F.round(F.avg("e2"), 6).alias("mse"),
        )
    )


def label_centroid_sim(emb: DataFrame, vec_col: str = "embedding",
                       label_col: str = "label") -> DataFrame:
    """Cosine similarity between per-label mean embeddings — the
    cluster-separability / class-drift snapshot (labels whose centroids
    collide are candidates for merging or relabeling).

    Centroids come from one (label, dim)-keyed aggregate over the
    exploded vectors (never a vector collect); the pairwise cosine runs
    on the label×dim frame — label-count-squared OUTPUT, dim-keyed
    join, both tiny next to the corpus.
    """
    ex = emb.select(
        F.col(label_col).alias("label"),
        F.posexplode(vec_col).alias("dim", "x"),
    ).select("label", "dim", F.col("x").cast("double").alias("x"))
    cent = ex.groupBy("label", "dim").agg(F.avg("x").alias("c"))
    a = cent.select(F.col("label").alias("label_a"), "dim",
                    F.col("c").alias("ca"))
    b = cent.select(F.col("label").alias("label_b"), "dim",
                    F.col("c").alias("cb"))
    return (
        a.join(b, "dim")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.round(
                F.try_divide(
                    F.sum(F.col("ca") * F.col("cb")),
                    F.sqrt(F.sum(F.col("ca") ** 2))
                    * F.sqrt(F.sum(F.col("cb") ** 2)),
                ),
                6,
            ).alias("cosine")
        )
    )


def dim_covariance(
    emb: DataFrame,
    vec_col: str = "embedding",
    max_dims: int = 16,
    min_abs_cov: float = 0.0,
    n_buckets: int = 256,
) -> DataFrame:
    """Pairwise covariance (and correlation) between the first
    ``max_dims`` embedding dimensions — the redundancy snapshot that
    justifies (or kills) a PCA/whitening stage before quantization.

    Exact, no sampling: one posexplode limited to the audited dims,
    a vec-keyed self-join (fan-out max_dims² per vector, bounded by
    construction), one sufficient-sums aggregate per dim pair.  Output
    is max_dims·(max_dims−1)/2 rows regardless of corpus size.

    Determinism (round-4 fix, hardened round 6): ``covar_samp`` at
    higher parallelism reassociates its partial sums, shifting the
    result ~1 ulp and flipping round(·, 6) cells sitting on a
    half-boundary.  Here the sufficient sums (n, Σx, Σy, Σxy, Σx²,
    Σy²) are folded in a FIXED order: level 1 sums each (pair, vec_id
    mod n_buckets) group over a vec_id-sorted array, level 2 sums the
    ≤n_buckets partials over a bucket-sorted array, so the IEEE
    expression tree is identical at any partition count.  Per-task
    array length is bounded by corpus/n_buckets — raise ``n_buckets``
    with corpus size (the level-2 arrays stay ≤n_buckets rows per
    pair either way).  Round 6: the oracle now mirrors the SAME
    two-level sorted fold (DuckDB ``list(… ORDER BY)`` +
    ``list_reduce``), so both engines evaluate one bit-identical
    expression tree, and the final 6dp snap is floor-form
    (floor(x·1e6+0.5)/1e6, plain IEEE arithmetic) because the round()
    builtins of Spark and DuckDB disagree on exact decimal halves
    even given identical doubles — the r05 red was exactly such a
    flip surviving the old round(round(·,9),6) snap.
    """
    ex = emb.select(
        F.col("vec_id"), F.posexplode(vec_col).alias("dim", "x")
    ).where(F.col("dim") < max_dims).select(
        "vec_id", "dim", F.col("x").cast("double").alias("x")
    )
    a = ex.select(
        "vec_id", F.col("dim").alias("dim_a"), F.col("x").alias("xa")
    )
    b = ex.select(
        "vec_id", F.col("dim").alias("dim_b"), F.col("x").alias("xb")
    )

    zero = F.struct(
        F.lit(0.0).alias("sx"),
        F.lit(0.0).alias("sy"),
        F.lit(0.0).alias("sxy"),
        F.lit(0.0).alias("sxx"),
        F.lit(0.0).alias("syy"),
    )

    def _acc_xy(acc, v):
        return F.struct(
            (acc.sx + v.xa).alias("sx"),
            (acc.sy + v.xb).alias("sy"),
            (acc.sxy + v.xa * v.xb).alias("sxy"),
            (acc.sxx + v.xa * v.xa).alias("sxx"),
            (acc.syy + v.xb * v.xb).alias("syy"),
        )

    def _acc_partial(acc, v):
        return F.struct(
            (acc.sx + v.sx).alias("sx"),
            (acc.sy + v.sy).alias("sy"),
            (acc.sxy + v.sxy).alias("sxy"),
            (acc.sxx + v.sxx).alias("sxx"),
            (acc.syy + v.syy).alias("syy"),
        )

    lvl1 = (
        a.join(b, "vec_id")
        .where(F.col("dim_a") < F.col("dim_b"))
        .withColumn("bkt", F.pmod(F.col("vec_id"), F.lit(n_buckets)))
        .groupBy("dim_a", "dim_b", "bkt")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("vec_id", "xa", "xb"))
            ).alias("vs")
        )
        .select(
            "dim_a",
            "dim_b",
            "bkt",
            F.size("vs").cast("double").alias("n"),
            F.aggregate("vs", zero, _acc_xy).alias("s"),
        )
    )
    folded = (
        lvl1.groupBy("dim_a", "dim_b")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("bkt", "n", F.col("s.*")))
            ).alias("ps")
        )
        .select(
            "dim_a",
            "dim_b",
            F.aggregate(
                "ps", F.lit(0.0), lambda acc, v: acc + v.n
            ).alias("n"),
            F.aggregate("ps", zero, _acc_partial).alias("s"),
        )
        .select("dim_a", "dim_b", "n", F.col("s.*"))
    )
    n = F.col("n")
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (n - 1)
    var_a = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - 1)
    var_b = (F.col("syy") - F.col("sy") * F.col("sy") / n) / (n - 1)

    def _snap(c):
        # floor-form 6dp rounding: identical double in → identical
        # double out on every engine (round() builtins differ at
        # exact decimal halves; see operators/resample.py:297)
        return (
            F.floor(c * F.lit(1000000.0) + F.lit(0.5))
            / F.lit(1000000.0)
        )

    out = folded.select(
        "dim_a",
        "dim_b",
        _snap(cov).alias("cov"),
        _snap(
            F.try_divide(cov, F.sqrt(var_a) * F.sqrt(var_b))
        ).alias("corr"),
        n.cast("long").alias("n_vecs"),
    )
    if min_abs_cov > 0:
        out = out.where(F.abs(F.col("cov")) >= min_abs_cov)
    return out
