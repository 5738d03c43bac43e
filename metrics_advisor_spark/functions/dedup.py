"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Everything is hash-based and engine-neutral: token/shingle hashes come
from md5 hex prefixes (56-bit ints), so the DuckDB oracle computes
bit-identical values and every stage is checkable.  All integer
arithmetic stays within int64 (hashes are reduced mod MERSENNE_P before
the universal-hash multiply), which matters under Spark's ANSI overflow
checking.

Scale design (100 TB corpus):
- exact dedup: one hash aggregate on md5(text) — pure shuffle-by-hash.
- shingle/Jaccard: the candidate join is on shingle_hash, so only docs
  sharing a shingle ever meet; hot shingles (boilerplate) are the skew
  risk → AQE skew-join handles it, or pre-filter shingles whose doc
  frequency exceeds a cap (they carry no dedup signal).
- MinHash LSH: k permutations × b bands as two hash aggregates and one
  self-join on (band_id, band_hash) — the classic
  shingle→minhash→band→bucket-join pipeline, no cross join anywhere.
- SimHash: bit-vote aggregate, one row per doc at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

MERSENNE_P = 2147483647  # 2^31 − 1: (a·h + b) stays < 2^62

_POP16 = None  # lazy 16-bit popcount table (numpy < 2.0 lacks bitwise_count)


def _popcount64(x):
    """Vectorized popcount over an int64 ndarray (values < 2^63) via a
    65536-entry uint16 lookup — numpy 1.x has no bitwise_count."""
    import numpy as np

    global _POP16
    if _POP16 is None:
        _POP16 = np.array(
            [bin(i).count("1") for i in range(65536)], dtype=np.uint8
        )
    flat = np.ascontiguousarray(x)
    parts = flat.view(np.uint16).reshape(*flat.shape, 4)
    return _POP16[parts].sum(axis=-1, dtype=np.int64)


def _near_value_pairs_np(
    full, virt, vbits: int, d: int, max_brute: int, out: list,
    depth: int = 1,
) -> None:
    """EXACT Hamming-≤d pairs among distinct sketch values, in-task.

    Two-level pigeonhole by default: any pair within distance d agrees
    exactly on ≥ 1 band of ANY disjoint (d+1)-way split of the bits, so
    an oversized group is re-banded ONCE on the residual bits (the
    agreed band removed from the banding word ``virt``; the original
    sketches ``full`` ride along for emission and the final exact
    distance) and each exact-agree subgroup is then brute-forced with
    chunked vectorized popcounts — n² integer ops in cache, never a
    shuffle, never an n² candidate-row materialization (SCALE.md §18:
    the join form of this stage measured 1581 s at ×10 on a
    boilerplate corpus).

    ``depth`` deliberately caps the re-banding at ONE level: a subgroup
    that stays together across bands (values differing only inside a
    narrow bit range) would be re-processed in EVERY band branch where
    it agrees, so unlimited recursion multiplies the same leaf work by
    up to (d+1) per level — measured as a stuck-task explosion at ×10.
    One split level bounds duplicated work at (d+1)× while cutting the
    dominant dense buckets; a 1000-executor deployment with
    billion-value buckets would raise ``depth`` (and pay the bounded
    (d+1)^depth duplication) or lower ``max_distance`` for wider
    bands.  Cross-branch duplicate pairs are deduped vectorized by the
    caller."""
    import numpy as np

    n = len(full)
    if n < 2:
        return
    if n <= max_brute or vbits < d + 1 or depth <= 0:
        # chunked brute force: emit each qualifying unordered pair once
        # (per call) — everything stays ndarray, no per-pair loop
        chunk = max(1, 4_000_000 // n)
        for i0 in range(0, n, chunk):
            va = full[i0 : i0 + chunk]
            hm = _popcount64(va[:, None] ^ full[None, :])
            ai, bi = np.nonzero(
                (hm <= d) & (va[:, None] < full[None, :])
            )
            if len(ai):
                out.append((va[ai], full[bi], hm[ai, bi]))
        return
    base, rem = divmod(vbits, d + 1)
    lo = 0
    for band in range(d + 1):
        width = base + (1 if band < rem else 0)
        if width == 0:
            continue
        mask = np.int64((1 << width) - 1)
        key = (virt >> lo) & mask
        low = virt & np.int64((1 << lo) - 1)
        resid = ((virt >> (lo + width)) << lo) | low
        order = np.argsort(key, kind="stable")
        ks = key[order]
        bounds = np.flatnonzero(
            np.r_[True, ks[1:] != ks[:-1], True]
        )
        for s, e in zip(bounds[:-1], bounds[1:]):
            if e - s >= 2:
                idx = order[s:e]
                _near_value_pairs_np(
                    full[idx], resid[idx], vbits - width, d,
                    max_brute, out, depth - 1,
                )
        lo += width


def _hash56(col: F.Column) -> F.Column:
    """56-bit integer hash from the md5 hex prefix — identical in DuckDB
    via ('0x' || substr(md5(x), 1, 14))::BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 14), 16, 10).cast("long")


def exact_dup_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: group by content hash; keeper = min doc_id.

    Returns one row per duplicated content hash (n_docs ≥ 2)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def shingle(
    df: DataFrame, text_col: str = "text", n: int = 3, distinct: bool = True
) -> DataFrame:
    """Word n-gram shingles with 56-bit hashes, one row per distinct
    (doc_id, shingle_hash).

    ``distinct=False`` skips the dedup shuffle — correct (and one whole
    shuffle cheaper) for duplicate-insensitive consumers like min
    aggregations (minhash, fingerprint); set semantics (Jaccard counts)
    need the default.

    The word array is materialized into a column BEFORE the gram
    lambda (round-5 fix, whole shingle family): an outer expression
    captured inside ``transform`` re-evaluates per element — the
    split ran O(L) times per doc, O(L²) total splitting (measured 3×
    end-to-end on the sf0.1 shingle stage)."""
    wdf = df.select(
        "doc_id", F.split(F.col(text_col), " ").alias("_w")
    )
    words = F.col("_w")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
        lambda i: F.array_join(F.slice(words, i + 1, n), " "),
    )
    out = wdf.select("doc_id", F.explode(grams).alias("shingle")).select(
        "doc_id", _hash56(F.col("shingle")).alias("shingle_hash")
    )
    return out.distinct() if distinct else out


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """N-gram Jaccard near-dup pairs via the shared-shingle join.

    |A∩B| from the self-join on shingle_hash; |A∪B| = |A|+|B|−|A∩B|.
    Only documents sharing ≥1 shingle are ever paired — no cross join.

    ``max_shingle_df`` is the skew cap for boilerplate-heavy corpora: a
    shingle appearing in more than that many documents is dropped from
    the INTERSECTION join (its join group would be quadratic in its doc
    frequency while carrying almost no dedup signal).  Set sizes keep
    counting every shingle, so Jaccard estimates only ever shrink —
    pairs held together solely by ubiquitous boilerplate fall away, and
    high-threshold near-dups still need many specific shared shingles.
    None (default) is the exact parity mode.
    """
    # Per-doc shingle-hash sets dedup'd MAP-SIDE (array_distinct) and the
    # set size carried as a column — this removes two whole shuffles vs
    # the naive formulation (a global DISTINCT over exploded shingles and
    # a sizes groupBy joined back twice): the only exchanges left are the
    # self-join on shingle_hash (whose two sides reuse one exchange) and
    # the (doc_a, doc_b) intersection count.  Words materialized before
    # the gram lambda (see `shingle` — captured expressions re-evaluate
    # per element).
    wdf = df.select("doc_id", F.split(F.col(text_col), " ").alias("_w"))
    words = F.col("_w")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
        lambda i: _hash56(F.array_join(F.slice(words, i + 1, n), " ")),
    )
    hashed = wdf.select(
        "doc_id", F.array_distinct(grams).alias("hashes")
    ).withColumn("set_size", F.size("hashes"))
    sh = hashed.select(
        "doc_id", "set_size", F.explode("hashes").alias("shingle_hash")
    )
    if max_shingle_df is not None:
        rare = (
            sh.groupBy("shingle_hash")
            .agg(F.count(F.lit(1)).alias("df_count"))
            .filter(F.col("df_count") <= max_shingle_df)
            .select("shingle_hash")
        )
        sh = sh.join(rare, "shingle_hash", "left_semi")
    a = sh.alias("a")
    b = sh.alias("b")
    return (
        a.join(b, F.col("a.shingle_hash") == F.col("b.shingle_hash"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.set_size").alias("size_a"),
            F.col("b.set_size").alias("size_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _perm_a(i: int) -> int:
    """Universal-hash multiplier for permutation i — the same closed form
    is reproducible in SQL: a = (i·2654435761 + 1) mod P."""
    return (i * 2654435761 + 1) % MERSENNE_P


def _perm_b(i: int) -> int:
    """Universal-hash offset for permutation i: b = (i·40503 + 7) mod P."""
    return (i * 40503 + 7) % MERSENNE_P


def minhash_signatures(
    df: DataFrame, text_col: str = "text", n: int = 3, k: int = 16
) -> DataFrame:
    """MinHash signatures: sig_i = min over shingles of (a_i·h + b_i) mod P.

    Output: (doc_id, perm_id, minhash) — k rows per doc.

    Scale plan (r15-opt): all k permutation minima fold INSIDE the row
    that carries the text — zero shuffles.  The shingle explode +
    k-aggregate groupBy the previous form used is redundant for a
    duplicate-insensitive min: per doc, the gram-hash array is
    materialized once and each permutation's min is one `aggregate`
    over it (the `simhash` HOF-fold finding, §12 of the r15 log).
    Bit-for-bit identical for every doc with non-NULL text: integer
    permutation arithmetic stays below 2^62 (see MERSENNE_P), min is
    order- and duplicate-insensitive, and a non-null text always
    yields ≥1 gram (the sequence lower bound is 0), so no such doc
    can disappear.  NULL-text docs are intentionally EXCLUDED — an
    intentional change from the old explode form, which emitted k
    NULL-minhash rows per NULL-text doc, and (because
    `minhash_bands`' array_join skips NULLs) made every NULL-text doc
    share band_hash md5('') and pair with every other one — spurious
    LSH candidates carrying no signal.  The new semantics are pinned
    in tests (ADVICE r15: this is a semantics fix, not explode
    parity).
    """
    wdf = df.select(
        "doc_id", F.split(F.col(text_col), " ").alias("_w")
    ).filter(F.col("_w").isNotNull())
    words = F.col("_w")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
        lambda i: _hash56(F.array_join(F.slice(words, i + 1, n), " "))
        % MERSENNE_P,
    )
    big = 9223372036854775807
    sigs = F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        # a_i/b_i inlined as expressions of the permutation index (the
        # _perm_a/_perm_b closed forms); a_i·h < 2^62, no overflow
        lambda i: F.aggregate(
            F.col("_h"),
            F.lit(big).cast("long"),
            lambda m, h: F.least(
                m,
                (
                    ((i.cast("long") * 2654435761 + 1) % MERSENNE_P) * h
                    + ((i.cast("long") * 40503 + 7) % MERSENNE_P)
                ) % MERSENNE_P,
            ),
        ),
    )
    return (
        wdf.select("doc_id", grams.alias("_h"))
        .select("doc_id", F.posexplode(sigs).alias("perm_id", "minhash"))
        .select(
            "doc_id", F.col("perm_id").cast("int").alias("perm_id"),
            "minhash",
        )
    )


def minhash_bands(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
) -> DataFrame:
    """(doc_id, band_id, band_hash) LSH band keys — the shared first
    half of `minhash_lsh_pairs`, factored out so the streaming near-dup
    gate can join fresh batches against an admitted-band store without
    re-deriving the banding.

    band_id = perm_id // (k/bands); band_hash = md5 of the ordered
    minhash values in the band.
    """
    rows_per_band = k // bands
    sig = minhash_signatures(df, text_col, n, k)
    return (
        sig.withColumn(
            "band_id", (F.col("perm_id") / rows_per_band).cast("int")
        )
        .groupBy("doc_id", "band_id")
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("perm_id", "minhash"))
                        ),
                        lambda s: s["minhash"].cast("string"),
                    ),
                    ",",
                )
            ).alias("band_hash")
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs: docs agreeing on ≥1 band.

    band_id = perm_id // (k/bands); band_hash = md5 of the ordered
    minhash values in the band; candidates = self-join on
    (band_id, band_hash).  With k=16, b=4 (r=4 rows/band) the collision
    curve is 1−(1−s⁴)⁴ — candidates skew toward Jaccard ≳ 0.5.

    ``max_bucket_size`` caps the quadratic blow-up of monster buckets
    (10⁶ identical boilerplate docs → 10¹² pairs): oversized buckets are
    routed to a star expansion — every member pairs with the bucket's
    min doc_id representative only, marking the whole cluster duplicate
    in O(size) pairs instead of O(size²).  None (default) = exact
    all-pairs parity.
    """
    band = minhash_bands(df, text_col, n=n, k=k, bands=bands)
    if max_bucket_size is not None:
        stats = band.groupBy("band_id", "band_hash").agg(
            F.count(F.lit(1)).alias("bucket_n"),
            F.min("doc_id").alias("rep_doc_id"),
        )
        band = band.join(stats, ["band_id", "band_hash"])
        small = band.filter(F.col("bucket_n") <= max_bucket_size)
        big = band.filter(F.col("bucket_n") > max_bucket_size)
        a = small.alias("a")
        b = small.alias("b")
        small_pairs = a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        star_pairs = big.filter(F.col("doc_id") != F.col("rep_doc_id")).select(
            F.col("rep_doc_id").alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
        )
        return small_pairs.unionByName(star_pairs).distinct()
    a = band.alias("a")
    b = band.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def apply_pair_dedup(
    df: DataFrame,
    pairs: DataFrame,
    transitive: bool = True,
    max_iterations: int | None = None,
) -> DataFrame:
    """Materialize a dedup decision: drop every non-keeper of the
    near-dup graph, keep one representative per cluster.

    ``transitive=True`` (default) resolves connected components by
    iterative min-label propagation over the (doc_a < doc_b) edge list,
    run to full convergence by default (``max_iterations=None``) so the
    result always equals the recursive transitive closure; the keeper is
    each component's min doc_id.  Pass an int ``max_iterations`` only to
    cap cost on adversarial long chains — the cap bounds component
    DIAMETER, and hitting it emits a non-convergence warning.
    ``transitive=False`` is the cheap common practice: drop every doc
    that appears as doc_b of any pair (one anti-join; keeps more docs on
    long chains).

    Each round is ONE equi-join + ONE aggregate: self-loop edges make
    ``min(neighbor labels)`` already include the node's own label, and the
    convergence probe rides along as a second aggregate column
    (``prev_label`` = the self-loop's label) — no separate probe join.
    The per-round ``count()`` action is deliberate: it fully materializes
    the round's cache AND answers convergence.  (Running rounds WITHOUT a
    per-round action was a measured dead end: the nested unevaluated
    plans re-evaluate shared branches and ran ~10× slower — see
    ROUND_NOTES.)
    """
    if not transitive:
        losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
        return df.join(losers, "doc_id", "left_anti")

    labels = propagate_labels(pairs, max_iterations)
    losers = labels.filter(F.col("doc_id") != F.col("label")).select("doc_id")
    return df.join(losers, "doc_id", "left_anti")


def propagate_labels(
    pairs: DataFrame, max_iterations: int | None = None
) -> DataFrame:
    """Connected components of the (doc_a, doc_b) pair graph by iterative
    min-label propagation: returns (doc_id, label) for every doc that
    appears in a pair; label = the component's min doc_id.

    Runs until convergence by default (labels decrease monotonically and
    are bounded below by the component min, so termination is guaranteed
    in <= diameter hops; the uncapped path composes TWO hops per
    checkpointed round, see the loop note).  ``max_iterations`` (when
    given) caps the hop count — it bounds component DIAMETER, not a log
    factor; that path runs one hop per round so the cap is exact — and a
    ``RuntimeWarning`` is emitted if the cap is hit before convergence,
    because capped labels diverge from the true transitive closure.

    The edge list is re-scanned every propagation round — persist it
    once or the (possibly expensive) upstream pair pipeline re-executes
    per round.  Self-loops (u, u) fold "own label" into the neighbor
    minimum so each round needs no second join against the old labels.

    Each round's result is ``localCheckpoint``-ed (eager), not just
    persisted: persisting caches DATA but the logical plan still nests
    every previous round, and Catalyst re-analysis of the growing tree
    turns superlinear (measured: round 12 of a 25-node chain took 44 s
    on 25 rows).  Truncating lineage per round keeps every round O(1)
    plan size — the same discipline GraphFrames' connected components
    uses; on a real cluster a reliable checkpoint dir additionally
    survives executor loss, which localCheckpoint trades away for speed.
    """
    # one generate pass instead of a union tree: the old
    # sym = pairs ∪ pairs.swapped; edges = sym ∪ sym.self_loops shape
    # referenced `pairs` four times, so an UNPERSISTED (and possibly
    # expensive — jaccard_pairs, hamming joins) upstream pair plan
    # executed 4× inside the one edges-materialization job (measured
    # r15 on canonical_select: the shingle self-join's shuffle read
    # 4× = 66.8 MB in one stage).  Exploding each pair into its two
    # directions plus both self-loops emits the identical row set —
    # u ranges over all endpoints — in ONE scan of the pair plan.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("u"),
                        F.col("doc_b").alias("v"),
                    ),
                    F.struct(
                        F.col("doc_b").alias("u"),
                        F.col("doc_a").alias("v"),
                    ),
                    F.struct(
                        F.col("doc_a").alias("u"),
                        F.col("doc_a").alias("v"),
                    ),
                    F.struct(
                        F.col("doc_b").alias("u"),
                        F.col("doc_b").alias("v"),
                    ),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
    )
    # Persist the edge set ALREADY hash-partitioned and sorted on the
    # join key: every propagation hop joins edges on `v`, and a
    # round-robin persisted edge set would be exchanged + sorted again
    # per hop (SMJ requirements) — O(edges) shuffle bytes × rounds.
    # The explicit repartition lands BEFORE the distinct: hash(v)
    # colocates every equal (u, v) row, which satisfies the dedup
    # aggregate's clustering requirement (partitioning expressions ⊆
    # grouping keys), so the build still pays exactly ONE exchange —
    # same as the plain distinct() it replaces — while the cached
    # partitioning/ordering satisfies every hop's join requirement on
    # the (big) edge side; each hop then only shuffles the (small)
    # label table (guide §2.4; r15-opt measurement: results exact,
    # jobs strictly fewer with the multi-hop rounds below).  P follows
    # the session's shuffle-partition knob so the label-side exchange
    # lands on the identical partitioning.
    try:
        n_parts = int(
            pairs.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    except (TypeError, ValueError):
        # AQE-advisory platforms may set a non-numeric value ("auto");
        # fall back to the scheduler's parallelism (r15 VERDICT nit)
        n_parts = pairs.sparkSession.sparkContext.defaultParallelism
    edges = (
        edges.repartition(n_parts, "v")
        .dropDuplicates(["u", "v"])
        .sortWithinPartitions("v")
        .persist()
    )
    labels = (
        edges.select(F.col("u").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .persist()
    )
    # Hops per checkpointed round: labels decrease monotonically, so if
    # TWO consecutive hops produce no change the first already produced
    # none (labels ≥ l1 ≥ l2 pointwise; l2 = labels ⇒ l1 = labels) —
    # the two-hop convergence probe is exact.  Composing two hops into
    # one plan before the single localCheckpoint halves the per-round
    # orchestration (checkpoint materialization + convergence action),
    # which dominated wall time on small graphs and halves the label
    # materializations at scale (r15-opt measurement on the sf0.1
    # hamming pair graph, diameter ≈ 7: rounds 8 → 5, Spark jobs
    # 43 → 33, results exact).  The FIRST round stays single-hop:
    # dup graphs are usually shallow (diameter 1-2 — same clip at two
    # gains, mirrored pages), and a mandatory second hop there is pure
    # extra work (measured: audio_dup_components +0.8-1.1 s both A/B
    # rounds before the ramp).  The capped path keeps one-hop rounds
    # throughout so `max_iterations` still bounds hop count exactly
    # (= component diameter, the documented contract).
    def _hops_for(round_no: int) -> int:
        if max_iterations is not None:
            return 1
        return 1 if round_no == 1 else 2

    def _hop(lab):
        """One min-label hop: (doc_id, label, prev) → the same schema
        with label = min over in-neighbors, prev carried through the
        self-loop row so the convergence probe can compare the round's
        OUTPUT against its INPUT without a second pass."""
        return (
            edges.join(
                lab.select(
                    F.col("doc_id").alias("v"),
                    F.col("label").alias("v_label"),
                    F.col("prev").alias("v_prev"),
                ),
                "v",
            )
            .groupBy("u")
            .agg(
                F.min("v_label").alias("label"),
                F.min(
                    F.when(F.col("v") == F.col("u"), F.col("v_prev"))
                ).alias("prev"),
            )
            .withColumnRenamed("u", "doc_id")
        )

    cached = labels
    rounds = 0
    while True:
        if max_iterations is not None and rounds >= max_iterations:
            import warnings

            warnings.warn(
                f"propagate_labels hit max_iterations={max_iterations} "
                "before converging; labels may not equal the transitive "
                "closure (a component's diameter exceeds the cap)",
                RuntimeWarning,
                stacklevel=2,
            )
            break
        rounds += 1
        # eager localCheckpoint: materializes every partition AND cuts
        # the logical plan back to a leaf scan of the stored blocks
        stepped = labels.withColumn("prev", F.col("label"))
        for _ in range(_hops_for(rounds)):
            stepped = _hop(stepped)
        updated = stepped.withColumnRenamed(
            "prev", "prev_label"
        ).localCheckpoint(eager=True)
        # take(1)-shaped probe: one tiny job over the checkpointed
        # blocks (a full count() is two jobs under AQE and its value
        # was never used — only emptiness)
        converged = updated.filter(
            F.col("label") != F.col("prev_label")
        ).isEmpty()
        cached.unpersist()
        cached = updated
        labels = updated.select("doc_id", "label")
        if converged:
            break
        # NOTE (measured dead ends, round 8): (a) pointer jumping
        # (label := label∘label, Shiloach-Vishkin) with a SECOND
        # localCheckpoint per round bought nothing — the checkpoint
        # overhead ate the round savings (the two-hop composition
        # above gets the round reduction withOUT a second checkpoint);
        # (b) coalescing small edge sets to 4 partitions: AQE already
        # folds the tiny per-round shuffles.  Don't re-attempt either
        # without new evidence.
    return labels


def dup_cluster_sizes(
    pairs: DataFrame, max_iterations: int | None = None
) -> DataFrame:
    """Duplicate-cluster size distribution: (cluster_size, n_clusters).

    Connected components via :func:`propagate_labels`, then two tiny
    hash aggregates (per-label count → per-size count).  The shape every
    dedup audit reports — how much of the corpus sits in 2-doc mirrors
    vs 1000-doc boilerplate explosions."""
    labels = propagate_labels(pairs, max_iterations)
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )


def simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """56-bit SimHash over BPE-ish tokens with count weights.

    Classic Charikar sketch: each token votes ±weight on each bit of its
    56-bit hash; the fingerprint sets bits with positive vote sums.
    Near-dups are pairs within small Hamming distance (see tests);
    computed entirely with integer SQL expressions so the oracle matches
    bit-for-bit.

    r15-opt layout: a SINGLE per-row higher-order fold — zero
    exchanges.  The per-(doc, token_hash) weight grouping the original
    3-shuffle form computed is mathematically redundant: the vote on
    bit b is linear in the weights, Σ_distinct-hash ±weight =
    Σ_occurrences ±1, so each token occurrence can vote ±1 directly
    and the whole sketch folds inside the row that carries the text.
    This removes the 3 shuffles AND the ×56 broadcast-join row blow-up
    (per-token work becomes one md5 + a 56-slot interpreted lambda
    update), while keeping the expression tree ~40 nodes — which
    matters because of the other r15 finding below.  Bit-for-bit
    identical to the 3-shuffle form (integer vote sums, order-free;
    verified exact at sf0.01 and sf0.1, all-pairs goldens unchanged);
    docs with no tokens are filtered out, matching the explode
    semantics of the original (explode of an empty/null token array
    emitted no rows, so such docs never reached the aggregate).

    r15 MEASURED DEAD END — do not re-attempt without new evidence: a
    single-AGGREGATION layout (56 conditional bit-plane sums + one
    57-column exchange, bit b set iff ``2·s_b > w``) is bit-identical
    and structurally better than the old 3-shuffle form, and won
    standalone cold-cache runs — but the 57 aggregate functions +
    56-term fold made Catalyst re-analyze ~700 expression nodes per
    action in every consumer that re-references the sketch lineage,
    regressing the iterative consumers 1.5-2.2× in the bench
    (pagerank 3.1→4.9-7.5 s, triangle_count 1.8→3.2-4.4 s,
    interleaved A/B).  Lineage cuts (localCheckpoint at members / at
    the pair frame) fixed the cold-cache form but forfeit the
    warm-run cache plan-matching the bench methodology measures, and
    still trailed HEAD.  The HOF fold above dodges the disease by
    construction: one compact expression, no aggregate at all.
    """
    from metrics_advisor_spark.functions.text import TOKEN_RE

    # TOKEN_RE is interpolated into a single-quoted SQL literal below;
    # the filter uses F.lit(TOKEN_RE).  A quote or backslash in a future
    # pattern would be mangled by SQL literal escaping and silently
    # diverge from the lit() path — refuse rather than diverge.
    if "'" in TOKEN_RE or "\\" in TOKEN_RE:
        raise ValueError(
            "simhash: TOKEN_RE must stay SQL-literal-safe (no quotes or "
            "backslashes) — or build the fold from Column APIs"
        )
    # one SQL expression per row: token-hash array -> 56 vote sums ->
    # fingerprint.  (s, i) index lambdas keep the tree size constant;
    # shiftleft/shiftright with a column bit count need the SQL form.
    fold = f"""
    aggregate(
      zip_with(
        aggregate(
          transform(regexp_extract_all({text_col}, '{TOKEN_RE}', 0),
                    t -> cast(conv(substring(md5(t), 1, 14), 16, 10) as bigint)),
          array_repeat(cast(0 as bigint), 56),
          (acc, h) -> transform(acc, (s, i) -> s + cast((shiftright(h, i) & 1) * 2 - 1 as bigint))
        ),
        sequence(0, 55),
        (s, i) -> if(s > 0, shiftleft(cast(1 as bigint), i), cast(0 as bigint))
      ),
      cast(0 as bigint),
      (a, x) -> a + x
    )
    """
    # rlike, not size(regexp_extract_all(...)) > 0: both mean "at least
    # one token match" (incl. NULL text → filtered), but rlike stops at
    # the FIRST match while extract_all materializes every token — the
    # old form tokenized each row twice (once in the filter, once in
    # the fold; ADVICE r15).  A projected token-array column would not
    # help: PushDownPredicate substitutes the alias and re-clones the
    # extract_all below the projection anyway.
    return df.filter(F.col(text_col).rlike(TOKEN_RE)).select(
        "doc_id", F.expr(fold).alias("simhash")
    )


def hamming_pairs(sketches: DataFrame, max_distance: int = 8) -> DataFrame:
    """SimHash near-dup pairs within a Hamming radius — all-pairs form.

    O(n²) by construction: the oracle baseline for small corpora and for
    verifying ``hamming_pairs_blocked``, which is the scale path."""
    a = sketches.alias("a")
    b = sketches.alias("b")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_distance)
    )


def hamming_pairs_blocked(
    sketches: DataFrame, max_distance: int = 8, n_bits: int = 56
) -> DataFrame:
    """SimHash near-dup pairs via EXACT pigeonhole blocking.

    Split the sketch into ``max_distance + 1`` disjoint bit bands: two
    sketches within Hamming distance d differ in ≤ d bands, so they
    AGREE EXACTLY on ≥ 1 band — joining on (band_id, band_bits) finds
    every qualifying pair (no recall loss, unlike LSH), and only
    near-identical sketches ever meet in the join.  The candidate set is
    then filtered by the true bit_count(xor) distance.

    Scale (rewritten twice after the ×10 probe, SCALE.md §18): the
    band stage runs over DISTINCT sketch values only — a
    boilerplate-heavy corpus putting thousands of documents on
    bit-identical sketches (measured: 1581 s at ×10 for the raw
    doc-level band JOIN) can no longer square the band buckets or the
    9× band fan-out.  Within each band bucket, qualifying value pairs
    are found by a grouped VECTORIZED POPCOUNT (`applyInPandas` +
    numpy, `_near_value_pairs_np`) instead of a self-join: the join
    form materializes Σ n_bucket² candidate ROWS through a shuffle
    before filtering (a single dense 6-bit band bucket on a
    low-entropy corpus stalled one task for >15 min at ×10), while the
    popcount form does the same n² work as in-cache integer ops and
    emits ONLY qualifying pairs.  Oversized buckets recurse on
    residual-bit re-banding in-task (multi-level pigeonhole, still
    exact).  Doc-level pairs are then produced by expanding the
    qualifying VALUE pairs through the membership table (two
    equi-joins) plus the within-value self-join — both output-bound:
    the only quadratic left is the pair set the caller asked for.
    Output identical to the doc-level band join and to
    ``hamming_pairs`` (verified in tests).  When even the output pair
    set is too large to materialize, stay at group granularity:
    `simhash_dup_groups` / `hamming_group_pairs`.

    Precondition: ``doc_id`` identifies ONE sketch row.  Exact
    duplicate (doc_id, simhash) rows — e.g. a re-ingested shard — are
    tolerated (deduped below before expansion, so they cannot fan out
    duplicate pairs, ADVICE r08); a doc_id carrying two DIFFERENT
    sketches is caller error and surfaces as that id pairing under
    both sketches.
    """
    n_bands = max_distance + 1
    base, rem = divmod(n_bits, n_bands)
    bands = []
    lo = 0
    for b in range(n_bands):
        width = base + (1 if b < rem else 0)
        mask = (1 << width) - 1
        bands.append(
            F.struct(
                F.lit(b).alias("band_id"),
                F.expr(f"shiftright(simhash, {lo})").bitwiseAND(
                    F.lit(mask)
                ).alias("band_bits"),
            )
        )
        lo += width
    from metrics_advisor_spark.functions.cacheutil import attach_cached

    # three consumers (banded, the expansion joins, the within-value
    # self-join) would re-execute the whole upstream sketch pipeline —
    # persist the tiny (doc_id, simhash) projection once; released via
    # cacheutil.release_cached when the caller is done.  (persist, NOT
    # localCheckpoint: the lineage cut re-materializes per call and
    # forfeits cross-run cache plan-matching — r15 measurement, see
    # the simhash docstring.)  dropDuplicates
    # restores the pre-r08 tolerance of exact duplicate input rows: a
    # duplicated (doc_id, simhash) row would otherwise fan out through
    # BOTH expansion joins and the within-value self-join as duplicate
    # (and self-) pairs.  Deduping the tiny membership projection is
    # one cheap shuffle of 16-byte rows vs dropDuplicates over the
    # (potentially huge) output pair set.
    members = (
        sketches.select("doc_id", "simhash")
        .dropDuplicates(["doc_id", "simhash"])
        .persist()
    )
    banded = (
        members.select("simhash")
        .distinct()
        .select("simhash", F.explode(F.array(*bands)).alias("band"))
        .select("simhash", "band.band_id", "band.band_bits")
    )
    def _bucket_pairs(pdf):
        import numpy as np
        import pandas as pd

        v = np.unique(pdf["simhash"].to_numpy(np.int64))
        found: list = []
        _near_value_pairs_np(
            v, v, n_bits, max_distance, 8192, found
        )
        if not found:
            return pd.DataFrame(
                {
                    "sh_a": pd.Series([], dtype="int64"),
                    "sh_b": pd.Series([], dtype="int64"),
                    "hamming": pd.Series([], dtype="int32"),
                }
            )
        a = np.concatenate([p[0] for p in found])
        b = np.concatenate([p[1] for p in found])
        h = np.concatenate([p[2] for p in found])
        # in-task dedup of cross-band re-finds (vectorized; the final
        # dropDuplicates still covers cross-BUCKET re-finds)
        order = np.lexsort((b, a))
        a, b, h = a[order], b[order], h[order]
        keep = np.r_[True, (a[1:] != a[:-1]) | (b[1:] != b[:-1])]
        return pd.DataFrame(
            {
                "sh_a": a[keep],
                "sh_b": b[keep],
                "hamming": h[keep].astype("int32"),
            }
        )

    # explicit repartition by the group keys: the banded stream is tiny
    # in BYTES (a few MB of hashes) but heavy in per-group COMPUTE, so
    # AQE's size-based coalescing would funnel every popcount bucket
    # into 2-3 tasks (measured: the whole ×10 stage on 3 cores).  A
    # user-specified partition count is exempt from coalescing, and
    # hash-partitioning on exactly the group keys satisfies
    # applyInPandas' clustering requirement — no second shuffle.
    n_parts = sketches.sparkSession.sparkContext.defaultParallelism * 2
    vpairs = (
        banded.repartition(n_parts, "band_id", "band_bits")
        .groupBy("band_id", "band_bits")
        .applyInPandas(
            _bucket_pairs, "sh_a long, sh_b long, hamming int"
        )
        .dropDuplicates(["sh_a", "sh_b"])
    )
    cross = (
        vpairs.join(
            members.select(
                F.col("doc_id").alias("da"),
                F.col("simhash").alias("sh_a"),
            ),
            "sh_a",
        )
        .join(
            members.select(
                F.col("doc_id").alias("db"),
                F.col("simhash").alias("sh_b"),
            ),
            "sh_b",
        )
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "hamming",
        )
    )
    x = members.alias("x")
    y = members.alias("y")
    within = x.join(
        y,
        (F.col("x.simhash") == F.col("y.simhash"))
        & (F.col("x.doc_id") < F.col("y.doc_id")),
    ).select(
        F.col("x.doc_id").alias("doc_a"),
        F.col("y.doc_id").alias("doc_b"),
        F.lit(0).cast("int").alias("hamming"),
    )
    return attach_cached(cross.unionByName(within), members)


def minhash_jaccard_estimate(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    restrict_exact: bool = True,
) -> DataFrame:
    """Estimator-quality audit: MinHash Jaccard estimate (share of equal
    signature minima) NEXT TO the exact n-gram Jaccard, per LSH candidate
    pair — the table you eyeball before trusting a (k, bands) setting on
    a real corpus.

    Cost shape: the candidate set comes from LSH (never all-pairs); the
    estimate joins two k-row signature slices per pair; the exact value
    reuses the shared-shingle intersection join.  All three inputs block
    on content keys, so the audit scales exactly like the dedup pipeline
    it audits.

    ``restrict_exact`` (r15-opt): the exact arm only SURVIVES the final
    left join for pairs already in the LSH candidate set, so running
    the full-corpus shared-shingle self-join is pure waste — instead
    the candidate pair table is persisted and the exact Jaccard is
    computed IN-ROW per candidate pair: join each pair to the two
    per-doc distinct shingle-hash sets and take
    ``size(array_intersect(...))``.  The pair side is broadcast only
    when a count proves it fits ``spark.sql.autoBroadcastJoinThreshold``
    at 16 bytes per pair (never when the threshold is ≤ 0); the
    candidate count is O(duplicates) — unbounded under boilerplate
    skew — so above the cap AQE picks the join strategy from the
    materialized size instead of a hint forcing an OOM-prone broadcast
    (r15 VERDICT).  n_inter over
    distinct sets and the identical round/divide expression make the
    values bit-for-bit equal to the shared-shingle join's; candidate
    pairs sharing no shingle produce 0.0 directly where the old arm
    produced no row and the caller coalesced to 0.0 — same output
    either way.  False keeps the full-corpus self-join arm.  Unlike
    the r15 sig-reuse dead end (persisting the k×docs signature table
    to feed the banding — slower than recomputing the pipelined
    chain), the persist here is the FINAL pair list, and the banding
    chain stays pipelined."""
    from metrics_advisor_spark.functions.cacheutil import attach_cached

    cand = minhash_lsh_pairs(df, text_col, n, k, bands)
    cached: list[DataFrame] = []
    if restrict_exact:
        cand = cand.persist()
        cached.append(cand)
    # the signature table feeds BOTH sides of the estimate join —
    # persist it or the shingle -> k-permutation chain runs twice
    sig = minhash_signatures(df, text_col, n, k).persist()
    cached.append(sig)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"), "perm_id",
        F.col("minhash").alias("mh_a"),
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"), "perm_id",
        F.col("minhash").alias("mh_b"),
    )
    est = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "perm_id"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.round(
                F.avg((F.col("mh_a") == F.col("mh_b")).cast("double")), 6
            ).alias("jaccard_est")
        )
    )
    if restrict_exact:
        # per-doc distinct shingle-hash sets, computed in-row exactly
        # as jaccard_pairs does (same grams, same _hash56, same
        # array_distinct) — then intersected per candidate pair
        wdf = df.select(
            "doc_id", F.split(F.col(text_col), " ").alias("_w")
        )
        words = F.col("_w")
        grams = F.transform(
            F.sequence(
                F.lit(0), F.greatest(F.size(words) - n, F.lit(0))
            ),
            lambda i: _hash56(F.array_join(F.slice(words, i + 1, n), " ")),
        )
        hashed = wdf.select(
            "doc_id", F.array_distinct(grams).alias("hashes")
        )
        # Scale guard (r15 VERDICT #1): a hard broadcast hint overrides
        # Spark's size checks, and the LSH candidate set is
        # O(duplicates) — unbounded on a near-dup-heavy corpus — so an
        # unconditional hint OOMs the driver at 100 TB instead of
        # degrading to a shuffle join.  The pair list is already
        # persisted; count() it (materializing the persist the est arm
        # reuses anyway) and hint only when it fits the session's own
        # broadcast budget: autoBroadcastJoinThreshold ÷ 16 bytes per
        # (long, long) pair (655,360 pairs at the 10 MB default); a
        # threshold ≤ 0 turns broadcasts off, so no hint.  Otherwise
        # AQE picks the strategy from the real materialized size.
        pair_keys = cand.select("doc_a", "doc_b")
        threshold = (
            df.sparkSession._jsparkSession.sessionState()
            .conf().autoBroadcastJoinThreshold()
        )
        if threshold > 0 and cand.count() <= threshold // 16:
            pair_keys = F.broadcast(pair_keys)
        paired = (
            pair_keys
            .join(
                hashed.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("hashes").alias("ha"),
                ),
                "doc_a",
            )
            .join(
                hashed.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("hashes").alias("hb"),
                ),
                "doc_b",
            )
        )
        exact = (
            paired.select(
                "doc_a",
                "doc_b",
                F.size(F.array_intersect("ha", "hb")).alias("n_inter"),
                F.size("ha").alias("size_a"),
                F.size("hb").alias("size_b"),
            )
            .select(
                "doc_a",
                "doc_b",
                F.round(
                    F.col("n_inter")
                    / (
                        F.col("size_a")
                        + F.col("size_b")
                        - F.col("n_inter")
                    ),
                    6,
                ).alias("jaccard_exact"),
            )
        )
    else:
        exact = jaccard_pairs(
            df, text_col, n, threshold=0.0
        ).withColumnRenamed("jaccard", "jaccard_exact")
    return attach_cached(
        est.join(exact, ["doc_a", "doc_b"], "left").select(
            "doc_a", "doc_b", "jaccard_est",
            F.coalesce(F.col("jaccard_exact"), F.lit(0.0)).alias(
                "jaccard_exact"
            ),
        ),
        *cached,
    )


def triangle_count(pairs: DataFrame) -> DataFrame:
    """Count triangles in a canonical (doc_a < doc_b) pair graph — a
    one-number cohesion audit of a near-dup pair set (dup clusters are
    near-cliques, so triangles/edges ≈ how clique-like the graph is;
    a bipartite-looking pair graph signals a bad LSH threshold).

    Standard oriented-triangle join: every triangle a<b<c is counted
    exactly once as (a,b)+(b,c) closed by (a,c).

    Scale: two equi-joins on single doc-id keys over the (already
    blocked, already capped) pair set — never over the corpus.  The
    first join's fan-out is Σ deg_in·deg_out per vertex; the LSH/
    pigeonhole producers upstream cap bucket sizes (`max_bucket_size`,
    `max_shingle_df`), which bounds degree and hence the join blow-up.
    """
    # the pair set feeds THREE join legs — persist it once or the whole
    # upstream producer (simhash + blocking) re-executes per leg
    e = pairs.select("doc_a", "doc_b").persist()
    wedge = (
        e.alias("e1")
        .join(
            e.alias("e2"),
            F.col("e1.doc_b") == F.col("e2.doc_a"),
        )
        .select(
            F.col("e1.doc_a").alias("a"),
            F.col("e1.doc_b").alias("b"),
            F.col("e2.doc_b").alias("c"),
        )
    )
    tri = wedge.join(
        e.alias("e3"),
        (F.col("a") == F.col("e3.doc_a")) & (F.col("c") == F.col("e3.doc_b")),
    )
    return tri.agg(F.count("*").alias("n_triangles")).crossJoin(
        e.agg(F.count("*").alias("n_edges"))
    )


def cross_source_overlap(df: DataFrame, text_col: str = "text",
                         source_col: str = "source") -> DataFrame:
    """Source-pair content overlap: for every pair of sources, how many
    distinct content hashes appear in BOTH — the standard audit before
    mixing crawls/snapshots that may mirror each other.

    Distinct (hash, source) first (collapses per-source repeats
    map-side), then a hash-keyed self-join restricted to src_a < src_b.

    Scale: the join key is the content hash — uniform by construction;
    the per-hash fan-out is (#sources containing it choose 2), bounded
    by the source count, not by corpus size.  Never joins raw text.
    """
    hs = df.select(
        F.md5(F.col(text_col)).alias("content_hash"),
        F.col(source_col).alias("src"),
    ).distinct()
    return (
        hs.alias("a")
        .join(
            hs.alias("b"),
            (F.col("a.content_hash") == F.col("b.content_hash"))
            & (F.col("a.src") < F.col("b.src")),
        )
        .groupBy(
            F.col("a.src").alias("src_a"), F.col("b.src").alias("src_b")
        )
        .agg(F.count("*").alias("n_shared"))
    )


def dup_ngram_fraction(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Per-document duplicated-n-gram fraction: the share of a doc's
    DISTINCT word n-grams that also occur in at least one other doc —
    the RefinedWeb / "Deduplicating Training Data" span-level signal
    that catches partial copies exact- and pair-dedup both miss.

    Plan: the distinct (doc, shingle) set feeds (a) a shingle-keyed
    document-frequency aggregate and (b) a join back on shingle_hash,
    then one per-doc aggregate.  Never pairs docs — cost is linear in
    the shingle table.  ``max_shingle_df`` drops ultra-hot boilerplate
    shingles from BOTH sides (they stop distinguishing anything and are
    the only skew risk at corpus scale); the fraction then reads "share
    of informative shingles that are duplicated".
    """
    sh = shingle(df, text_col, n=n).persist()
    dfreq = sh.groupBy("shingle_hash").agg(
        F.count("*").alias("sdf")
    )
    if max_shingle_df is not None:
        dfreq = dfreq.where(F.col("sdf") <= max_shingle_df)
    return (
        sh.join(dfreq, "shingle_hash")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum((F.col("sdf") > 1).cast("long")).alias("n_dup_shingles"),
            F.round(
                F.sum((F.col("sdf") > 1).cast("double")) / F.count("*"), 6
            ).alias("dup_fraction"),
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    text_col: str = "text",
    window: int = 3,
    key_len: int = 24,
) -> DataFrame:
    """Sorted-neighborhood-method blocking (classic entity-resolution):
    sort the corpus by a normalized prefix key and emit candidate pairs
    only among docs whose key TIES within ``window`` positions of each
    other in that order.

    Complements hash blocking (LSH bands, pigeonhole): SNM catches
    near-dups whose difference is past the key prefix (e.g. truncated
    tails) with one sort instead of signature fan-out.  Output is the
    candidate set with cheap features (rank gap, length delta) — feed
    it to an exact verifier (jaccard / levenshtein) downstream.

    Scale (round-5 fix): pairs only ever form between docs whose
    block_key TIES, and under orderBy(block_key, doc_id) a tie group is
    contiguous in the global order — so the global-rank gap between two
    tied docs equals their within-group rank gap.  Ranking can
    therefore partition by block_key (hash exchange, no global
    single-task window — the previous Window.orderBy() with no
    partitionBy moved the whole corpus through one task); the neighbor
    pairing is an equi-join on (block_key, rank+j) with
    j ∈ [1, window−1], so each row meets at most window−1 others.  Key
    collisions (boilerplate prefixes) bound bucket sizes exactly like
    any blocking key — pick key_len so prefixes stay discriminative.
    """
    from pyspark.sql import Window

    key = F.substring(
        F.lower(F.regexp_replace(F.col(text_col), "[^A-Za-z0-9]", "")),
        1,
        key_len,
    )
    ranked = df.select(
        "doc_id",
        key.alias("block_key"),
        F.length(text_col).alias("n_chars"),
    ).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("block_key").orderBy(F.col("doc_id"))
        ),
    )
    offs = ranked.select(
        "*", F.explode(F.sequence(F.lit(1), F.lit(window - 1))).alias("j")
    ).select((F.col("rank") + F.col("j")).alias("rank"),
             F.col("block_key"),
             F.col("doc_id").alias("doc_a"),
             F.col("n_chars").alias("chars_a"),
             "j")
    return (
        offs.join(ranked, ["block_key", "rank"])
        .select(
            F.least("doc_a", "doc_id").alias("doc_lo"),
            F.greatest("doc_a", "doc_id").alias("doc_hi"),
            F.col("block_key"),
            F.col("j").alias("rank_gap"),
            F.abs(F.col("n_chars") - F.col("chars_a")).alias("len_delta"),
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Directional containment near-dup pairs: |A∩B| / |A| — the
    asymmetric cousin of Jaccard that catches TRUNCATION and quote
    dups, where a short doc is mostly inside a long one but the
    symmetric Jaccard is diluted by the length gap.

    Same inverted-index plan as `jaccard_pairs` (shared-shingle join,
    never a doc cross-product, same ``max_shingle_df`` skew cap); emits
    one row per ORDERED pair direction that clears the threshold, with
    both directions' containment and the Jaccard for context.

    With a cap set, per-doc set sizes are recomputed AFTER the
    hot-shingle anti-join (round-5 fix), so numerator and denominator
    share the same informative-shingle universe — previously the
    denominators still counted dropped shingles, systematically
    underestimating containment (``dup_ngram_fraction`` already
    handled the cap this way).
    """
    # words materialized before the gram lambda (see `shingle`); hash
    # inside the same lambda — a second transform pass over
    # materialized gram STRINGS doubled the HOF work (same fusion as
    # `jaccard_pairs`)
    wdf = df.select("doc_id", F.split(F.col(text_col), " ").alias("_w"))
    words = F.col("_w")
    hs = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
            lambda i: _hash56(F.array_join(F.slice(words, i + 1, n), " ")),
        )
    )
    if max_shingle_df is None:
        # no cap → per-doc size known pre-explode, no extra exchange
        sets = wdf.select(
            "doc_id", hs.alias("hs")
        ).select(
            "doc_id", F.size("hs").alias("set_size"),
            F.explode("hs").alias("shingle_hash"),
        )
    else:
        from pyspark.sql import Window

        sets = wdf.select(
            "doc_id", F.explode(hs).alias("shingle_hash")
        )
        hot = (
            sets.groupBy("shingle_hash")
            .agg(F.count("*").alias("sdf"))
            .where(F.col("sdf") > max_shingle_df)
            .select("shingle_hash")
        )
        sets = sets.join(hot, "shingle_hash", "left_anti").withColumn(
            "set_size", F.count("*").over(Window.partitionBy("doc_id"))
        )
    a = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("set_size").alias("sa"),
        "shingle_hash",
    )
    b = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("set_size").alias("sb"),
        "shingle_hash",
    )
    inter = (
        a.join(b, "shingle_hash")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "sa", "sb")
        .agg(F.count("*").alias("n_inter"))
    )
    c_ab = F.round(F.col("n_inter") / F.col("sa"), 6)
    c_ba = F.round(F.col("n_inter") / F.col("sb"), 6)
    return (
        inter.select(
            "doc_a", "doc_b",
            c_ab.alias("containment_ab"),
            c_ba.alias("containment_ba"),
            F.round(
                F.col("n_inter")
                / (F.col("sa") + F.col("sb") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
        .where(
            (F.col("containment_ab") >= threshold)
            | (F.col("containment_ba") >= threshold)
        )
    )


def lsh_eval(
    df: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Precision/recall of the MinHash-LSH CANDIDATE set against the
    exact Jaccard pair set at ``threshold`` — the one-row scorecard
    that justifies (k, bands) before anyone trusts the approximate
    path at scale.  Precision < 1 measures wasted verification work;
    recall < 1 measures silently-missed near-dups (the number that
    actually matters).

    Composes two existing pipelines (exact inverted-index Jaccard;
    LSH banding); both are pair-shaped, the comparison is a join of
    two small pair sets.
    """
    exact = jaccard_pairs(df, text_col, threshold=threshold).select(
        "doc_a", "doc_b"
    ).persist()
    lsh = minhash_lsh_pairs(
        df, text_col, k=k, bands=bands
    ).select("doc_a", "doc_b").persist()
    common = exact.join(lsh, ["doc_a", "doc_b"]).agg(
        F.count("*").alias("n_common")
    )
    return (
        exact.agg(F.count("*").cast("long").alias("n_exact"))
        .crossJoin(lsh.agg(F.count("*").cast("long").alias("n_lsh")))
        .crossJoin(common)
        .select(
            "n_exact",
            "n_lsh",
            F.col("n_common").cast("long").alias("n_common"),
            F.round(F.try_divide(F.col("n_common"), F.col("n_lsh")), 6)
            .alias("precision"),
            F.round(F.try_divide(F.col("n_common"), F.col("n_exact")), 6)
            .alias("recall"),
        )
    )


def shared_passage_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = 8,
    min_words: int = 12,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Exact shared-PASSAGE detection: for every doc pair, the longest
    run of CONSECUTIVE shared word n-grams, reported in words
    (run_len + n − 1) — the distributed re-expression of suffix-style
    exact substring dedup (Lee et al. 2021, "Deduplicating Training
    Data Makes Language Models Better"): quote/boilerplate/passage
    reuse that whole-doc Jaccard dilutes and MinHash never localizes.

    Plan: a POSITIONAL inverted index (gram_hash, doc_id, pos); shared
    grams join on the hash; a pair's co-occurrences fall on diagonals
    (pos_a − pos_b constant along a shared passage), and the classic
    rank-difference islands trick turns each diagonal's consecutive
    positions into maximal runs — no passage text is ever materialized.

    Scale: the only join key is the n-gram hash; ``max_gram_df`` drops
    boilerplate grams before the join (the same skew cap as
    `jaccard_pairs`).  Run detection windows partition by
    (doc_a, doc_b, diag) — each window sorts only one diagonal of one
    pair.  Output is pair-shaped, filtered by ``min_words``.
    """
    from pyspark.sql import Window

    # words materialized before the gram lambda (see `shingle`)
    wdf = df.select("doc_id", F.split(F.col(text_col), " ").alias("_w"))
    words = F.col("_w")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(words) - n),
        lambda i: _hash56(F.array_join(F.slice(words, i + 1, n), " ")),
    )
    # docs shorter than n words have no full n-gram — without this
    # filter the old greatest(size-n, 0) sentinel emitted ONE truncated
    # gram, so two identical 2-word docs reported max_shared_words = n
    # whenever min_words <= n
    pos = wdf.where(F.size(words) >= n).select(
        "doc_id", F.posexplode(grams).alias("pos", "gram_hash")
    )
    if max_gram_df is not None:
        hot = (
            pos.groupBy("gram_hash")
            .agg(F.count("*").alias("gdf"))
            .where(F.col("gdf") > max_gram_df)
            .select("gram_hash")
        )
        pos = pos.join(hot, "gram_hash", "left_anti")
    a = pos.select(
        F.col("doc_id").alias("doc_a"),
        F.col("pos").alias("pos_a"),
        "gram_hash",
    )
    b = pos.select(
        F.col("doc_id").alias("doc_b"),
        F.col("pos").alias("pos_b"),
        "gram_hash",
    )
    matched = (
        a.join(b, "gram_hash")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            "pos_a",
            (F.col("pos_a") - F.col("pos_b")).alias("diag"),
        )
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    runs = (
        matched.withColumn(
            "grp", F.col("pos_a") - F.row_number().over(w)
        )
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(F.count("*").alias("run_len"))
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(
            (F.max("run_len") + F.lit(n - 1)).cast("long").alias(
                "max_shared_words"
            ),
            F.count("*").cast("long").alias("n_runs"),
        )
        .where(F.col("max_shared_words") >= min_words)
    )


def cross_source_neardup(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Near-dup analog of `cross_source_overlap`: per source pair, the
    number of DISTINCT cross-source doc pairs sharing ≥1 MinHash-LSH
    band — the mixing audit that catches mirrors which re-crawl with
    small edits (truncated tails, boilerplate swaps), where exact
    content hashing reports zero overlap.

    Same banding as `minhash_lsh_pairs` via the shared `minhash_bands`
    helper; the self-join key is (band_id, band_hash) — never raw text
    or a doc cross-product — and the per-bucket fan-out carries the
    usual LSH bucket-size story.  Output cardinality is bounded by
    source-pair count.
    """
    src = df.select("doc_id", F.col(source_col).alias("src"))
    # NOT persisted (measured r05): caching the banded frame coalesces
    # it to few partitions and starves the self-join's parallelism —
    # recomputing both sides is faster (2.4 vs 3.5+ s at sf0.1), the
    # same persist A/B lesson as ROUND_NOTES' unigram case
    bnd = minhash_bands(df, text_col, n=n, k=k, bands=bands).join(
        src, "doc_id"
    )
    a, b = bnd.alias("a"), bnd.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.src") != F.col("b.src")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.least("a.src", "b.src").alias("src_a"),
            F.greatest("a.src", "b.src").alias("src_b"),
        )
        .distinct()
    )
    return pairs.groupBy("src_a", "src_b").agg(
        F.count("*").cast("long").alias("n_neardup_pairs")
    )


def scrub_shared_passages(
    df: DataFrame,
    text_col: str = "text",
    n: int = 8,
    min_words: int = 12,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Passage SCRUBBING — the removal half of exact substring dedup
    (Lee et al. 2021 remove duplicated spans rather than whole docs):
    every shared run found by the `shared_passage_pairs` plan is cut
    out of the HIGHER-doc_id side (keep-first policy, matching the
    engine's min-id dedup winners), and the cleaned text is rebuilt.

    Single-pass by design: removal can create new word adjacencies
    whose n-grams were never in the corpus — the paper's iterative
    variant reruns until fixpoint; callers loop if they need it.

    Plan: the detection half is `shared_passage_pairs`' positional
    inverted index + diagonal islands, except each island also carries
    its doc_b-side span; spans explode to covered WORD positions
    (O(removed words), bounded by corpus size), distinct-ed, and
    anti-joined against the doc's positional words; `string_agg`-style
    ordered reassembly emits one row per INPUT doc with the cleaned
    text and the removal count.  No doc text ever joins doc text —
    the only wide shuffle keys are gram hashes and doc ids.
    """
    wdf = df.select("doc_id", F.split(F.col(text_col), " ").alias("_w"))
    words = F.col("_w")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(words) - n),
        lambda i: _hash56(F.array_join(F.slice(words, i + 1, n), " ")),
    )
    # short docs (< n words) carry no full n-gram — keep them out of
    # the index (see shared_passage_pairs); they still flow through the
    # rebuild below untouched
    pos = wdf.where(F.size(words) >= n).select(
        "doc_id", F.posexplode(grams).alias("pos", "gram_hash")
    )
    if max_gram_df is not None:
        hot = (
            pos.groupBy("gram_hash")
            .agg(F.count("*").alias("gdf"))
            .where(F.col("gdf") > max_gram_df)
            .select("gram_hash")
        )
        pos = pos.join(hot, "gram_hash", "left_anti")
    a = pos.select(
        F.col("doc_id").alias("doc_a"),
        F.col("pos").alias("pos_a"),
        "gram_hash",
    )
    b = pos.select(
        F.col("doc_id").alias("doc_b"),
        F.col("pos").alias("pos_b"),
        "gram_hash",
    )
    matched = (
        a.join(b, "gram_hash")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            "pos_b",
            (F.col("pos_a") - F.col("pos_b")).alias("diag"),
        )
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_b")
    runs = (
        matched.withColumn(
            "grp", F.col("pos_b") - F.row_number().over(w)
        )
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("pos_b").alias("b_start"),
            F.count("*").alias("run_len"),
        )
        .where(F.col("run_len") + F.lit(n - 1) >= min_words)
    )
    # covered word positions on the doc_b side: grams b_start …
    # b_start+run_len−1 cover words b_start … b_start+run_len+n−2
    covered = runs.select(
        F.col("doc_b").alias("doc_id"),
        F.explode(
            F.sequence(
                F.col("b_start"),
                F.col("b_start") + F.col("run_len") + F.lit(n - 2),
            )
        ).alias("pos"),
    ).distinct()
    wordpos = wdf.select(
        "doc_id", F.posexplode(words).alias("pos", "word")
    )
    kept = wordpos.join(covered, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda s: s.word,
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_words_kept"),
    )
    base = wdf.select(
        "doc_id", F.size(words).alias("n_words_in")
    )
    return (
        base.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_words_in",
            (
                F.col("n_words_in") - F.coalesce("n_words_kept", F.lit(0))
            ).cast("long").alias("n_words_removed"),
        )
    )


def scrub_to_fixpoint(
    df: DataFrame,
    text_col: str = "text",
    n: int = 8,
    min_words: int = 12,
    max_gram_df: int | None = None,
    max_rounds: int = 5,
) -> DataFrame:
    """Iterative passage scrubbing until no shared run ≥ ``min_words``
    remains: removing a span can create a NEW word adjacency whose
    n-grams duplicate yet another doc — the single-pass
    `scrub_shared_passages` leaves those (documented there); this is
    the paper's fixpoint mode.

    Loop discipline (ROUND_NOTES r04 lesson): each round
    localCheckpoints the rewritten corpus eagerly — persist alone lets
    Catalyst re-analyze the ever-nesting plan superlinearly.  The
    convergence probe is one tiny aggregate per round (a driver-side
    scalar, same pattern as `propagate_labels`); rounds are bounded by
    ``max_rounds`` with a warning on a hit cap.

    Returns one row per input doc: (doc_id, clean_text, n_words_in,
    n_words_removed, n_rounds) with removal accounted against the
    ORIGINAL text.
    """
    import warnings

    base = df.select(
        "doc_id",
        F.col(text_col).alias("text"),
        # '' symmetric with the n_words_left guard below, else an
        # empty input doc reports n_words_removed = 1 - 0 = 1
        F.when(F.col(text_col) == "", F.lit(0))
        .otherwise(F.size(F.split(F.col(text_col), " ")))
        .alias("n_words_in"),
    ).localCheckpoint(eager=True)
    cur = base.select("doc_id", "text")
    rounds = 0
    for _ in range(max_rounds):
        out = scrub_shared_passages(
            cur, "text", n=n, min_words=min_words,
            max_gram_df=max_gram_df,
        ).localCheckpoint(eager=True)
        rounds += 1
        removed = out.agg(
            F.sum("n_words_removed").alias("r")
        ).collect()[0]["r"]
        cur = out.select(
            "doc_id", F.col("clean_text").alias("text")
        )
        if not removed:
            break
    else:
        warnings.warn(
            f"scrub_to_fixpoint: round cap {max_rounds} hit before "
            f"convergence — residual shared passages may remain",
            stacklevel=2,
        )
    final_words = cur.select(
        "doc_id",
        F.col("text").alias("clean_text"),
        F.when(F.col("text") == "", F.lit(0))
        .otherwise(F.size(F.split(F.col("text"), " ")))
        .alias("n_words_left"),
    )
    return base.join(final_words, "doc_id").select(
        "doc_id",
        "clean_text",
        "n_words_in",
        (F.col("n_words_in") - F.col("n_words_left"))
        .cast("long")
        .alias("n_words_removed"),
        F.lit(rounds).cast("int").alias("n_rounds"),
    )


def intradoc_repetition(
    df: DataFrame,
    text_col: str = "text",
    n: int = 8,
    min_words: int = 12,
) -> DataFrame:
    """WITHIN-document repeated-passage detection: for each doc, the
    longest word span that occurs at least twice inside the SAME
    document — the scraped-page failure mode (navigation boilerplate,
    repeated paragraphs, templated listings) that cross-doc dedup never
    sees and that corpus-quality filters (RefinedWeb/CCNet style)
    gate on.

    Same diagonal-islands machinery as `shared_passage_pairs`, but the
    positional gram index joins against ITSELF per doc: matches at
    pos_a < pos_b land on diagonals (pos_b − pos_a constant along a
    repeated run), and the rank-difference trick turns each diagonal's
    consecutive positions into maximal runs of length run_len + n − 1
    words.

    Output: (doc_id, max_rep_words, n_rep_runs) for docs with at least
    one repeat ≥ ``min_words``.

    100 TB design: the self-join key is (doc_id, gram_hash) — strictly
    doc-local, so the pair work co-partitions with the doc and never
    crosses documents; per-doc cost is bounded by the doc's own repeat
    structure (a doc with no repeated gram contributes nothing after
    the join).  Windows partition by (doc_id, diag): one diagonal of
    one doc per sort.
    """
    from pyspark.sql import Window

    wdf = df.select("doc_id", F.split(F.col(text_col), " ").alias("_w"))
    words = F.col("_w")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(words) - n),
        lambda i: _hash56(F.array_join(F.slice(words, i + 1, n), " ")),
    )
    pos = wdf.where(F.size(words) >= n).select(
        "doc_id", F.posexplode(grams).alias("pos", "gram_hash")
    )
    a = pos.select("doc_id", F.col("pos").alias("pos_a"), "gram_hash")
    b = pos.select("doc_id", F.col("pos").alias("pos_b"), "gram_hash")
    matched = (
        a.join(b, ["doc_id", "gram_hash"])
        .where(F.col("pos_a") < F.col("pos_b"))
        .select(
            "doc_id",
            "pos_a",
            (F.col("pos_b") - F.col("pos_a")).alias("diag"),
        )
    )
    w = Window.partitionBy("doc_id", "diag").orderBy("pos_a")
    runs = (
        matched.withColumn("grp", F.col("pos_a") - F.row_number().over(w))
        .groupBy("doc_id", "diag", "grp")
        .agg(F.count("*").alias("run_len"))
    )
    return (
        runs.groupBy("doc_id")
        .agg(
            (F.max("run_len") + F.lit(n - 1))
            .cast("long")
            .alias("max_rep_words"),
            F.count("*").cast("long").alias("n_rep_runs"),
        )
        .where(F.col("max_rep_words") >= min_words)
    )


def dup_cluster_purity(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Source-purity audit of exact-dup clusters: for every duplicated
    content hash, how many sources contribute copies and the source
    entropy of the cluster — separates "one crawler re-fetched a page"
    (pure cluster, entropy 0: dedup is safe per source) from "mirrors
    across sources" (mixed cluster: dedup changes the source MIXTURE,
    which matters when sources carry sampling weights downstream).

    Output: (cluster_id, n_docs, n_sources, src_entropy) per cluster
    with ≥2 docs; cluster_id = min doc_id (the keeper).

    100 TB design: one groupBy(md5, source) map-side-combined count,
    one per-hash fold — shuffle volume is one row per (cluster,
    source), never per doc.  Entropy folds the ≤n_sources terms in
    source order (sorted-array fold, floor-form 6dp) so the value is
    hash-stable at any parallelism — the `dim_covariance` determinism
    pattern.
    """
    per_src = df.groupBy(
        F.md5(F.col(text_col)).alias("content_hash"),
        F.col(source_col).alias("src"),
    ).agg(
        F.count(F.lit(1)).alias("c"),
        F.min("doc_id").alias("min_doc"),
    )
    folded = (
        per_src.groupBy("content_hash")
        .agg(
            F.min("min_doc").alias("cluster_id"),
            F.sum("c").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_sources"),
            F.sort_array(F.collect_list(F.struct("src", "c"))).alias("ss"),
        )
        .where(F.col("n_docs") >= 2)
    )
    n = F.col("n_docs").cast("double")
    ent = F.aggregate(
        "ss",
        F.lit(0.0),
        lambda acc, v: acc
        - (v.c.cast("double") / n) * F.log(v.c.cast("double") / n),
    )
    return folded.select(
        "cluster_id",
        F.col("n_docs").cast("long").alias("n_docs"),
        "n_sources",
        (
            F.floor(ent * F.lit(1000000.0) + F.lit(0.5))
            / F.lit(1000000.0)
        ).alias("src_entropy"),
    )


def simhash_dup_groups(sketches: DataFrame) -> DataFrame:
    """Identical-sketch collapse — the skew-safety pass that must run
    BEFORE any Hamming band join at corpus scale: (simhash, n_docs,
    min_doc) for every sketch value carried by more than one document.
    One hash-partitioned shuffle of 16-byte rows, no pair enumeration.

    Motivation (measured, SCALE.md §18): on a low-entropy ×10 corpus
    the raw band join of `hamming_pairs_blocked` went quadratic —
    thousands of documents share bit-identical sketches (boilerplate,
    templates), every one landing in the same band buckets.  Collapse
    first, then run the band join on DISTINCT sketch values only
    (`hamming_group_pairs`); identical-content pairs are implied by
    group membership and need never be materialized."""
    return (
        sketches.groupBy("simhash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
        )
        .where(F.col("n_docs") > 1)
    )


def hamming_components(
    sketches: DataFrame,
    max_distance: int = 8,
    n_bits: int = 56,
    max_iterations: int | None = None,
) -> DataFrame:
    """Connected components of the Hamming-≤d sketch graph WITHOUT ever
    materializing the pair set — the dedup-cluster operator that stays
    viable on corpora where near-dup pairs are quadratic by NATURE (a
    boilerplate-heavy ×10 probe corpus has so many sketches within
    d=8 of each other that both the join and the popcount-kernel PAIR
    operators measured ~1600 s just EMITTING the answer; SCALE.md §18).

    Insight: downstream dedup consumes COMPONENTS, not edges, and
    components need only a spanning relation.  Per band bucket the
    popcount mask is reduced in-task to a min-label fixpoint (n rows
    out per bucket — one (value, local_label) row per member, never a
    pair); the global fixpoint across buckets runs min-label
    propagation over those n·bands bipartite edges.  Output:
    (doc_id, component) with component = min doc_id of the component —
    the same labelling `apply_pair_dedup(transitive=True)` materializes
    from an explicit pair list.

    Scale: compute is the same Σ n_bucket² popcounts as the pair
    kernel (vectorized, in cache, × a small number of min-label
    rounds bounded by the bucket subgraph diameter), but shuffle
    output is O(values · bands) rows.  The global propagation inherits
    `propagate_labels`' lineage-cut discipline."""
    from metrics_advisor_spark.functions.cacheutil import attach_cached

    n_bands = max_distance + 1
    base, rem = divmod(n_bits, n_bands)
    bands = []
    lo = 0
    for b in range(n_bands):
        width = base + (1 if b < rem else 0)
        mask = (1 << width) - 1
        bands.append(
            F.struct(
                F.lit(b).alias("band_id"),
                F.expr(f"shiftright(simhash, {lo})").bitwiseAND(
                    F.lit(mask)
                ).alias("band_bits"),
            )
        )
        lo += width
    # same duplicate-input tolerance as hamming_pairs_blocked (r09
    # ADVICE): a re-ingested shard's repeated (doc_id, simhash) rows
    # would otherwise emit duplicate (doc_id, component) rows through
    # the tagged membership join
    members = (
        sketches.select("doc_id", "simhash")
        .dropDuplicates(["doc_id", "simhash"])
        .persist()
    )
    banded = (
        members.select("simhash")
        .distinct()
        .select("simhash", F.explode(F.array(*bands)).alias("band"))
        .select("simhash", "band.band_id", "band.band_bits")
    )

    def _bucket_labels(pdf):
        import numpy as np
        import pandas as pd

        v = np.unique(pdf["simhash"].to_numpy(np.int64))
        n = len(v)
        if n < 2:
            return pd.DataFrame(
                {
                    "simhash": pd.Series([], dtype="int64"),
                    "vlabel": pd.Series([], dtype="int64"),
                }
            )
        labels = v.copy()
        big = np.int64(2**62)
        if n <= 4096:
            # common case: the ≤d mask fits comfortably (n² bools, ≤16
            # MB at n=4096) — compute popcounts ONCE and iterate labels
            # on the cached mask; rounds = bucket subgraph diameter.
            # The mask is built in the same ~4M-element chunks as
            # _near_value_pairs_np so the transient int64 xor matrix +
            # uint8 lookup expansion never materialize at n² (the
            # one-shot form peaked ~350 MB at n=4096 — with
            # 2×defaultParallelism concurrent applyInPandas tasks that
            # pressures executor memory, ADVICE r08); only the bool
            # mask stays resident.
            mask = np.empty((n, n), dtype=bool)
            chunk = max(1, 4_000_000 // n)
            for i0 in range(0, n, chunk):
                mask[i0 : i0 + chunk] = (
                    _popcount64(v[i0 : i0 + chunk, None] ^ v[None, :])
                    <= max_distance
                )
            while True:
                new = np.minimum(
                    labels,
                    np.where(mask, labels[None, :], big).min(axis=1),
                )
                if np.array_equal(new, labels):
                    break
                labels = new
        else:
            # huge bucket: recompute popcounts chunked per round
            # (memory-bounded; the n² bit mask would not fit)
            chunk = max(1, 4_000_000 // n)
            while True:
                new = labels.copy()
                for i0 in range(0, n, chunk):
                    va = v[i0 : i0 + chunk]
                    hm = _popcount64(va[:, None] ^ v[None, :])
                    cand = np.where(
                        hm <= max_distance, labels[None, :], big
                    )
                    new[i0 : i0 + chunk] = np.minimum(
                        new[i0 : i0 + chunk], cand.min(axis=1)
                    )
                if np.array_equal(new, labels):
                    break
                labels = new
        keep = labels != v  # singletons carry no information
        return pd.DataFrame(
            {"simhash": v[keep], "vlabel": labels[keep]}
        )

    n_parts = sketches.sparkSession.sparkContext.defaultParallelism * 2
    vedges = (
        banded.repartition(n_parts, "band_id", "band_bits")
        .groupBy("band_id", "band_bits")
        .applyInPandas(_bucket_labels, "simhash long, vlabel long")
        .dropDuplicates(["simhash", "vlabel"])
    )
    vcomp = propagate_labels(
        vedges.select(
            F.col("simhash").alias("doc_a"),
            F.col("vlabel").alias("doc_b"),
        ),
        max_iterations=max_iterations,
    ).select(
        F.col("doc_id").alias("simhash"), F.col("label").alias("vcomp")
    )
    tagged = members.join(vcomp, "simhash", "left").select(
        "doc_id",
        "simhash",
        F.coalesce("vcomp", F.col("simhash")).alias("vcomp"),
    )
    comp_min = tagged.groupBy("vcomp").agg(
        F.min("doc_id").alias("component")
    )
    out = tagged.join(comp_min, "vcomp").select("doc_id", "component")
    return attach_cached(out, members)


def hamming_group_pairs(
    sketches: DataFrame, max_distance: int = 8, n_bits: int = 56
) -> DataFrame:
    """Near-dup edges at GROUP granularity — the 100 TB form of the
    Hamming join: collapse to distinct sketch values (one
    representative per value, min doc_id), run the exact pigeonhole
    band join on the distinct values only, and re-attach group sizes.
    Output (doc_a, doc_b, hamming, n_a, n_b): representative pairs
    with the implied pair multiplicity n_a·n_b — downstream dedup
    works on groups (drop all but min_doc per group, then union the
    cross-group edges), so the quadratic identical-pair set is never
    materialized.

    Unlike the library's other plan builders, construction RUNS ONE
    JOB: the per-value ``groups`` aggregate is persisted and populated
    by an eager ``count()`` before the plan is returned.  Without it,
    AQE's broadcast-build threads for the two size-attach joins race
    the band-stage job over the unpopulated persist and serialize on
    cache locks while holding task slots (two interleaved A/B runs:
    3.44/3.32 s without the count, 2.47/2.92 s with it).  The same
    count measured as a wash on `propagate_labels`, the hamming
    members table and the triangle edges, whose races overlap, so
    this is the only place that keeps it."""
    from metrics_advisor_spark.functions.cacheutil import attach_cached

    # consumed by the band stage AND both size-attach joins — persist
    # the tiny per-value aggregate instead of re-running the upstream
    # sketch pipeline three times (released via release_cached)
    groups = sketches.groupBy("simhash").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
    ).persist()
    # eager cache population — see the docstring
    groups.count()
    reps = groups.select(
        F.col("min_doc").alias("doc_id"), "simhash"
    )
    sizes = groups.select(
        F.col("min_doc").alias("doc_id"), F.col("n_docs")
    )
    rep_pairs = hamming_pairs_blocked(
        reps, max_distance=max_distance, n_bits=n_bits
    )
    out = (
        rep_pairs
        .join(
            sizes.select(
                F.col("doc_id").alias("doc_a"),
                F.col("n_docs").alias("n_a"),
            ),
            "doc_a",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("doc_b"),
                F.col("n_docs").alias("n_b"),
            ),
            "doc_b",
        )
        .select("doc_a", "doc_b", "hamming", "n_a", "n_b")
    )
    return attach_cached(
        out, groups, *getattr(rep_pairs, "_ma_cached_frames", ())
    )


# ---------------------------------------------------------------------------
# char-level EXACT duplicate-span detection — the practical Spark form
# of suffix-array substring dedup (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better", public): find every
# maximal character run that occurs verbatim ≥2 times anywhere in the
# corpus (across docs or within one) and optionally scrub it.  A true
# distributed suffix array buys exact minimal-length detection at far
# higher constant cost; WINNOWED fixed-length windows (Schleimer et
# al. 2003 document fingerprinting, public) give the same guarantee
# for runs ≥ min_len + stride − 1 with one Arrow pass, one groupBy,
# one join and one per-doc window — and the window keys are the
# SUBSTRINGS THEMSELVES, so matches are exact by construction (no
# hash-collision verify pass).  Selection is CONTENT-DEFINED: a
# doc-start-aligned stride grid (the r13 form) missed ~(stride−1)/
# stride of real duplicates because two copies at offsets with
# different residues mod stride share no aligned window (ADVICE r13).
# ---------------------------------------------------------------------------

# winnowing anchor-hash parameters, shared with the DuckDB oracle:
# h(i) = Σ_{j<A} codepoint(text[i+j]) · B^(A−1−j)  (mod 2^64)
_SPAN_HASH_BASE = 1000003
_SPAN_ANCHOR_CHARS = 8
_SPAN_HASH_MOD = 1 << 64


def _winnow_offsets(cp, min_len: int, window: int, pows):
    """Winnowing selection over one doc's codepoint array: for every
    run of `window` consecutive anchor-hash positions pick the
    LEFTMOST argmin (ties included — argmin is first-occurrence);
    docs with fewer than `window` hash positions use one truncated
    window.  Depends only on local content, so verbatim copies at ANY
    alignment select the same in-run offsets."""
    import numpy as np

    n = cp.shape[0]
    m = n - min_len + 1  # valid full-window start positions
    if m <= 0:
        return np.empty(0, dtype=np.int64)
    h = np.zeros(m, dtype=np.uint64)
    for j, p in enumerate(pows):  # A terms, uint64 wraparound == mod 2^64
        h += cp[j:j + m].astype(np.uint64) * np.uint64(p)
    if m <= window:
        return np.array([int(np.argmin(h))], dtype=np.int64)
    from numpy.lib.stride_tricks import sliding_window_view

    sel = []
    chunk = 1 << 16  # bound sliding-view memory to ~8 MB per chunk
    last = m - window + 1
    for s in range(0, last, chunk):
        e = min(s + chunk, last)
        sw = sliding_window_view(h[s:e + window - 1], window)
        sel.append(np.arange(s, e, dtype=np.int64) + sw.argmin(axis=1))
    return np.unique(np.concatenate(sel))


def _winnow_windows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    *, min_len: int = 64, stride: int = 16,
) -> DataFrame:
    """The winnowed window frame behind the span family: one Arrow
    pass emitting ``(id_col, off, w)`` for every content-defined
    selection (see `duplicate_spans` for the selection rule and the
    alignment-invariance guarantee)."""
    import numpy as np
    import pandas as pd

    id_field = df.schema[id_col]
    a = min(_SPAN_ANCHOR_CHARS, min_len)
    pows = [
        pow(_SPAN_HASH_BASE, a - 1 - j, _SPAN_HASH_MOD) for j in range(a)
    ]
    w_window = max(int(stride), 1)
    ml = int(min_len)

    def _emit(batches):
        for pdf in batches:
            ids, offs, ws = [], [], []
            for did, t in zip(pdf[id_col], pdf[text_col]):
                if t is None or len(t) < ml:
                    continue
                cp = np.frombuffer(
                    t.encode("utf-32-le"), dtype=np.uint32
                )
                for o in _winnow_offsets(cp, ml, w_window, pows):
                    o = int(o)
                    ids.append(did)
                    offs.append(o)
                    ws.append(t[o:o + ml])
            yield pd.DataFrame({id_col: ids, "off": offs, "w": ws})

    return df.select(id_col, text_col).mapInPandas(
        _emit,
        schema=T.StructType([
            id_field,
            T.StructField("off", T.LongType()),
            T.StructField("w", T.StringType()),
        ]),
    )


def _merge_spans(
    hits: DataFrame, id_col: str, min_len: int
) -> DataFrame:
    """Per-doc gaps-and-islands merge of ``(id_col, off)`` hit rows
    into maximal ``(id_col, span_start, span_end)`` spans."""
    from pyspark.sql.window import Window

    hits = hits.select(
        id_col, "off", (F.col("off") + min_len).alias("end"),
    )
    byo = Window.partitionBy(id_col).orderBy("off")
    prev_end = F.max("end").over(
        byo.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = hits.withColumn(
        "new_span",
        (F.col("off") > F.coalesce(prev_end, F.lit(-1))).cast("int"),
    ).withColumn("span_id", F.sum("new_span").over(byo))
    return (
        marked.groupBy(id_col, "span_id")
        .agg(
            F.min("off").alias("span_start"),
            F.max("end").alias("span_end"),
        )
        .select(id_col, "span_start", "span_end")
    )


def _splice_spans(
    df: DataFrame, spans: DataFrame, text_col: str, id_col: str,
    keep_marker: str = "",
) -> DataFrame:
    """Cut every span out of its doc's text in one Arrow pass; docs
    without spans pass through untouched via a left join."""
    import pandas as pd

    agg = spans.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("_spans"),
    )
    joined = df.join(agg, id_col, "left")

    # NB: no pd.Series annotations — under `from __future__ import
    # annotations` they are strings the UDF typehint inspector cannot
    # resolve when pandas is imported locally
    @F.pandas_udf("string")
    def splice(text, spans_):
        out = []
        for t, sp in zip(text, spans_):
            if t is None or sp is None or len(sp) == 0:
                out.append(t)
                continue
            parts = []
            pos = 0
            for s in sp:
                a, b = s["span_start"], s["span_end"]
                parts.append(t[pos:a])
                if keep_marker:
                    parts.append(keep_marker)
                pos = b
            parts.append(t[pos:])
            out.append("".join(parts))
        return pd.Series(out)

    return joined.withColumn(
        text_col, splice(F.col(text_col), F.col("_spans"))
    ).drop("_spans")


def duplicate_spans(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    *, min_len: int = 64, stride: int = 16, keep_first: bool = False,
) -> DataFrame:
    """Maximal duplicated char spans: ``(doc_id, span_start,
    span_end)`` (0-based, end-exclusive) covering every winnowed
    ``min_len``-char window whose text occurs ≥2 times in the corpus.

    Guarantee (alignment-INVARIANT): any verbatim-duplicated run of
    length ≥ ``min_len + stride − 1`` contains at least one full
    winnowing window of anchor hashes determined by run content
    alone, so both copies select the same in-run offset and the run
    is always detected — regardless of where each copy starts.
    Reported bounds are selection-aligned (over-/under-coverage
    < stride chars per edge, since winnowing selects at least once
    per ``stride`` consecutive positions).

    Plan shape (100 TB): window selection is ONE Arrow pass over the
    docs (numpy rolling hash + sliding-window argmin, O(len) per doc,
    ~2/(stride+1) selection density — no position explosion crosses a
    shuffle); ONE groupBy on the window text (exact keys, map-side
    combine); one shuffle join back to occurrences — per-occurrence
    output, never a pair explosion, so boilerplate windows with
    millions of occurrences cost O(occurrences); the span merge is a
    per-doc gaps-and-islands window.  The anchor hash and the
    leftmost-argmin rule are engine-neutral (integer poly mod 2^64,
    tiebreak by position) — the DuckDB oracle replays the identical
    selection.

    ``keep_first=True`` switches to dedup semantics: the first
    occurrence of each duplicated window in (doc_id, offset) order is
    canonical and emits no span, so a subsequent scrub removes every
    duplicate while exactly one copy survives (Lee et al.'s scrub
    removes ALL copies — the default here, faithful to the paper).
    Caveat (window-level contract): the canonical window itself never
    emits a span, but when a doc interleaves SEVERAL duplicated runs,
    a span from a different duplicated key can overlap the canonical
    copy and the per-doc island merge will cut into it — "exactly one
    copy survives" is guaranteed only when duplicated runs don't
    overlap other duplicated material in the surviving doc."""
    wins = _winnow_windows(
        df, text_col, id_col, min_len=min_len, stride=stride,
    )
    # occurrence-count filter as a WINDOW over the window-text key:
    # the groupBy+self-join form consumed `wins` twice (the partial
    # aggregate below the count exchange makes the two exchanges
    # non-identical, so ReuseExchange cannot collapse them) — the
    # expensive winnowing Arrow pass ran once per consumer.  count()
    # over (partition by w) computes the same n per occurrence in the
    # SAME single shuffle that colocates occurrences, so the plan is
    # one winnow pass + one Exchange; hot boilerplate keys colocate
    # exactly as they already did on the join side.  Row set is
    # identical: inner-join on n>1 keys == filter n>1 per occurrence.
    from pyspark.sql.window import Window as _W

    occ = wins.withColumn(
        "_n", F.count(F.lit(1)).over(_W.partitionBy("w"))
    ).where(F.col("_n") > 1)
    if keep_first:
        # dedup-not-destruction semantics: the FIRST occurrence of
        # each duplicated window in (doc_id, offset) order is the
        # canonical copy and emits no span — scrubbing then removes
        # every duplicate while exactly one copy of the material
        # survives in the corpus.  One extra rank window on the
        # already-shuffled occurrence frame; SQL-expressible
        # (row_number over the window key), so oracle-ready.
        rk = F.row_number().over(
            _W.partitionBy("w").orderBy(id_col, "off")
        )
        occ = occ.withColumn("_rk", rk).where(F.col("_rk") > 1)
    # gaps-and-islands: a hit starts a new span iff it begins after
    # every previous hit's end (offsets ascend per doc)
    return _merge_spans(occ, id_col, min_len)


def scrub_duplicate_spans(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    *, min_len: int = 64, stride: int = 16, keep_marker: str = "",
    keep_first: bool = False,
) -> DataFrame:
    """Remove every duplicated span found by `duplicate_spans` from
    the text (optionally replacing each with ``keep_marker``).
    Spans are collected per doc (a doc's span list is bounded by
    len/min_len entries) and spliced in one Arrow pass; docs without
    duplicated spans pass through untouched via a left join.
    ``keep_first=True`` preserves the canonical (first in (doc_id,
    offset) order) occurrence of each duplicated window — dedup, not
    destruction."""
    spans = duplicate_spans(
        df, text_col, id_col, min_len=min_len, stride=stride,
        keep_first=keep_first,
    )
    return _splice_spans(df, spans, text_col, id_col, keep_marker)


def duplicate_span_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    group_col: str | None = None,
    *, min_len: int = 64, stride: int = 16,
) -> DataFrame:
    """Corpus-level duplication accounting (the reporting stat Lee et
    al. 2022 lead with): per ``group_col`` (or one global row),
    (n_docs, n_docs_with_spans, dup_chars, total_chars, dup_frac) —
    how much of the corpus is verbatim-duplicated material at char
    granularity.  Rides `duplicate_spans` (winnowed, alignment-
    invariant) + one per-doc aggregate + one group aggregate; the
    fraction is floor-form 6dp (engine-neutral).  Plan shape: the
    spans pipeline's cost dominates; the accounting adds one
    doc-keyed aggregate and one (left) join — no new pair terms."""
    spans = duplicate_spans(
        df, text_col, id_col, min_len=min_len, stride=stride,
    )
    per_doc = spans.groupBy(id_col).agg(
        F.sum(
            F.col("span_end") - F.col("span_start")
        ).alias("_dup_chars")
    )
    gcol = (
        F.col(group_col) if group_col is not None
        else F.lit("corpus")
    )
    base = df.select(
        id_col,
        gcol.alias("grp"),
        F.length(text_col).cast("long").alias("_n"),
    )
    joined = base.join(per_doc, id_col, "left")
    return (
        joined.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("_dup_chars").alias("n_docs_with_spans"),
            F.sum(F.coalesce(F.col("_dup_chars"), F.lit(0)))
            .alias("dup_chars"),
            F.sum("_n").alias("total_chars"),
        )
        .select(
            F.col("grp").alias("group"),
            "n_docs",
            "n_docs_with_spans",
            "dup_chars",
            "total_chars",
            (
                F.floor(
                    F.col("dup_chars") / F.col("total_chars") * 1e6
                    + 0.5
                ) / 1e6
            ).alias("dup_frac"),
        )
    )


def duplicate_span_sources(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    *, min_len: int = 64, stride: int = 16,
) -> DataFrame:
    """Provenance of duplicated material at GROUP granularity (the
    `simhash_dup_groups` analog for the span family): one row per
    duplicated window key — (w_hash, n_occurrences, n_docs,
    min_doc, min_off) — WITHOUT materializing occurrence pairs, so
    boilerplate shared by millions of docs stays one row.  The
    canonical (min_doc, min_off) pointer is the keep-first scrub's
    survivor, so this table answers "where did the surviving copy of
    each duplicated run come from" after a `keep_first` scrub.  One
    groupBy on the window key; md5 keys keep the output narrow (the
    2^-128 collision caveat of the streaming store applies)."""
    wins = _winnow_windows(
        df, text_col, id_col, min_len=min_len, stride=stride,
    )
    return (
        wins.groupBy(F.md5("w").alias("w_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct(id_col).alias("n_docs"),
            F.min(F.struct(F.col(id_col), F.col("off"))).alias("_c"),
        )
        .where(F.col("n_occurrences") > 1)
        .select(
            "w_hash",
            "n_occurrences",
            "n_docs",
            F.col(f"_c.{id_col}").alias("min_doc"),
            F.col("_c.off").alias("min_off"),
        )
    )
