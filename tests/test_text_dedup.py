"""Text analysis + dedup operators on hand-built ground truth."""

import pytest
from pyspark.sql import functions as F

from metrics_advisor_spark.functions.dedup import (
    exact_dup_groups,
    hamming_pairs,
    jaccard_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
    shingle,
    simhash,
)
from metrics_advisor_spark.functions.text import (
    doc_fingerprint,
    lang_id,
    text_stats,
    token_count,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 0
    (2, "the quick brown fox jumps over the lazy dog near the river bank now"),    # near dup of 0
    (3, "el perro corre en la calle y el gato duerme en la casa"),
    (4, "completely different words about spark engines and distributed joins"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_exact_dedup(docs):
    groups = exact_dup_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 2
    assert groups[0]["keeper_doc_id"] == 0


def test_jaccard_near_dup(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
             jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0          # identical shingle sets
    assert (0, 2) in pairs               # near dup
    assert 0.5 <= pairs[(0, 2)] < 1.0
    assert (0, 4) not in pairs and (3, 4) not in pairs


def test_minhash_signature_shape_and_determinism(docs):
    sig = minhash_signatures(docs, k=16)
    rows = sig.collect()
    assert len(rows) == 5 * 16
    # identical docs → identical signatures
    s0 = sorted((r["perm_id"], r["minhash"]) for r in rows if r["doc_id"] == 0)
    s1 = sorted((r["perm_id"], r["minhash"]) for r in rows if r["doc_id"] == 1)
    assert s0 == s1
    rows2 = minhash_signatures(docs, k=16).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_minhash_lsh_finds_dups(docs):
    pairs = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs).collect()}
    assert (0, 1) in pairs               # exact dups always collide
    assert (0, 4) not in pairs and (0, 3) not in pairs


def test_simhash_hamming(docs):
    sk = simhash(docs)
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in hamming_pairs(sk, max_distance=56).collect()}
    assert pairs[(0, 1)] == 0            # identical docs → identical sketch
    assert pairs[(0, 2)] < pairs[(0, 4)]  # near dup closer than unrelated


def test_simhash_rejects_sql_unsafe_token_re(docs, monkeypatch):
    # the guard is a raise, not an assert, so it holds under python -O
    from metrics_advisor_spark.functions import text

    monkeypatch.setattr(text, "TOKEN_RE", "[a-z']+")
    with pytest.raises(ValueError, match="SQL-literal-safe"):
        simhash(docs)


def test_token_count(docs):
    got = {r["doc_id"]: r["n_tokens"] for r in token_count(docs).collect()}
    assert got[0] == 14  # 14 words, no punctuation
    assert got[3] == 13


def test_text_stats_ranges(docs):
    rows = text_stats(docs).collect()
    for r in rows:
        assert r["n_chars"] > 0 and r["n_words"] > 0
        assert 0.0 <= r["punct_ratio"] <= 1.0
        assert 0.0 <= r["stopword_ratio"] <= 1.0
        assert 0.0 <= r["quality_score"] <= 1.0
    en = {r["doc_id"]: r["stopword_ratio"] for r in rows}
    assert en[0] > en[3]  # english doc hits english stopwords harder


def test_lang_id(docs):
    got = {r["doc_id"]: r["lang_pred"] for r in lang_id(docs).collect()}
    assert got[0] == "en"
    assert got[3] == "es"
    assert got[4] in ("en", "und")  # few anchors either way


def test_doc_fingerprint_stability(docs):
    fp = {r["doc_id"]: r["fingerprint"] for r in doc_fingerprint(docs).collect()}
    assert fp[0] == fp[1]        # identical content → identical fingerprint
    assert fp[0] != fp[4]


def test_near_value_pairs_np_recursion_matches_brute():
    """The in-task pair kernel must be EXACT under recursion: forcing
    max_brute=2 drives the multi-level pigeonhole re-banding path,
    whose pair set must equal the all-pairs popcount reference."""
    import numpy as np

    from metrics_advisor_spark.functions.dedup import (
        _near_value_pairs_np,
        _popcount64,
    )

    rng = np.random.default_rng(7)
    base = rng.integers(0, 1 << 56, 40, dtype=np.int64)
    # plant near values at controlled distances 1..10
    planted = []
    for i, dist in enumerate(range(1, 11)):
        v = int(base[i])
        for b in rng.choice(56, dist, replace=False):
            v ^= 1 << int(b)
        planted.append(v)
    v = np.unique(np.concatenate([base, np.array(planted, np.int64)]))
    d = 8

    def run(max_brute):
        found: list = []
        _near_value_pairs_np(v, v, 56, d, max_brute, found)
        pairs = {}
        for a, b, h in found:
            for x, y, z in zip(a.tolist(), b.tolist(), h.tolist()):
                pairs[(x, y)] = z
        return pairs

    # brute reference over ALL pairs (no banding at all)
    hm = _popcount64(v[:, None] ^ v[None, :])
    ai, bi = np.nonzero((hm <= d) & (v[:, None] < v[None, :]))
    ref = {
        (int(v[i]), int(v[j])): int(hm[i, j]) for i, j in zip(ai, bi)
    }
    assert ref, "fixture must contain qualifying pairs"

    assert run(max_brute=10_000) == ref     # pure brute path
    assert run(max_brute=2) == ref          # forced recursion path


def test_hamming_components_match_pairwise_closure(spark):
    """Components computed WITHOUT pair materialization must equal the
    transitive closure of the explicit pair operator, including
    cross-bucket merges and identical-sketch collapse."""
    import pyspark.sql.functions as F

    from metrics_advisor_spark.functions.dedup import (
        hamming_components,
        hamming_pairs_blocked,
        propagate_labels,
        simhash,
    )

    rows = [
        (i, t)
        for i, t in enumerate(
            [
                "spark shuffles data between stages when grouping",
                "spark shuffles data between stages when grouping",   # exact dup of 0
                "spark shuffles data between the stages when grouping",  # near dup
                "completely different text about astronomy and stars",
                "the quick brown fox jumps over the lazy dog",
                "the quick brown fox jumps over the lazy cat today",  # near of 4
            ]
        )
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sk = simhash(docs)
    got = {
        r["doc_id"]: r["component"]
        for r in hamming_components(sk, max_distance=8).collect()
    }
    # reference: explicit pairs -> min-label closure -> min doc per comp
    pairs = hamming_pairs_blocked(sk, max_distance=8)
    lab = propagate_labels(
        pairs.select("doc_a", "doc_b")
    )
    ref = {r["doc_id"]: r["label"] for r in lab.collect()}
    for i in range(6):
        ref.setdefault(i, i)
    assert got == ref
    assert len(got) == 6
    # sanity on the fixture itself: 0/1 must share a component
    assert got[0] == got[1]

    # duplicate-input tolerance (r09 ADVICE — same guard as
    # hamming_pairs_blocked): a re-ingested shard's repeated
    # (doc_id, simhash) rows must not emit duplicate
    # (doc_id, component) output rows
    doubled = sk.unionByName(sk)
    got_dup = [
        (r["doc_id"], r["component"])
        for r in hamming_components(doubled, max_distance=8).collect()
    ]
    assert sorted(got_dup) == sorted(got.items())


def test_duplicate_spans_exact(spark):
    # the Lee-et-al substring-dedup form: a verbatim run planted in
    # two docs is found in BOTH; a within-doc repeat is found twice;
    # unique text yields nothing
    from metrics_advisor_spark.functions.dedup import (
        duplicate_spans,
        scrub_duplicate_spans,
    )
    import string
    import random

    rng = random.Random(5)

    def rand(n):
        return "".join(rng.choice(string.ascii_lowercase + " ")
                       for _ in range(n))

    # NON-periodic shared run (ADVICE r13: periodic runs like "S"*100
    # mask alignment bugs — every aligned window of a periodic run is
    # the same substring), planted at offsets with DIFFERENT residues
    # mod stride (150≡6, 40≡8, 80≡0, 80+100+30≡2 mod 16) so detection
    # must be alignment-invariant
    shared = rand(100)  # well above min_len + stride - 1
    u1, u2, u3 = rand(150), rand(150), rand(150)
    rows = [
        (1, u1 + shared + rand(90)),
        (2, rand(40) + shared + u2),
        (3, u3),                       # unique: no spans
        (4, rand(80) + shared + rand(30) + shared + rand(80)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {}
    for r in duplicate_spans(df, min_len=64, stride=16).collect():
        spans.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"])
        )
    assert 3 not in spans
    # every planted occurrence is covered (window-aligned slack < 16)
    for doc_id, text in rows:
        pos = 0
        while True:
            i = text.find(shared, pos)
            if i < 0:
                break
            assert any(a <= i + 15 and b >= i + len(shared) - 15
                       for a, b in spans.get(doc_id, [])), (doc_id, i)
            pos = i + 1
    # doc 4's two occurrences are separated by 30 unique chars — with
    # stride slack they may merge; total covered chars must be ~2 runs
    covered4 = sum(b - a for a, b in spans[4])
    assert covered4 >= 2 * len(shared) - 2 * 15

    # scrub removes the duplicated material, keeps unique text intact
    scrubbed = {
        r["doc_id"]: r["text"]
        for r in scrub_duplicate_spans(df, min_len=64, stride=16)
        .collect()
    }
    # interior of every occurrence is removed (edge slack < stride)
    core = shared[16:-16]
    for doc_id, text in rows:
        assert core not in scrubbed[doc_id], doc_id
    assert scrubbed[3] == u3
    # unique flanks survive up to the stride-aligned trim
    assert u1[:120] in scrubbed[1]
    assert u2[-120:] in scrubbed[2]


def test_duplicate_spans_granularity_floor(spark):
    # runs SHORTER than min_len + stride - 1 may escape, runs at the
    # floor are guaranteed: plant both and check the contract
    from metrics_advisor_spark.functions.dedup import duplicate_spans
    import string
    import random

    rng = random.Random(7)

    def rand(n):
        return "".join(rng.choice(string.ascii_lowercase)
                       for _ in range(n))

    # non-periodic at-floor run at offsets 100 and 53 — different
    # residues mod stride (ADVICE r13): the guarantee must hold for
    # ANY alignment of the two copies
    at_floor = rand(64 + 16 - 1)
    df = spark.createDataFrame(
        [(1, rand(100) + at_floor + rand(100)),
         (2, rand(53) + at_floor + rand(150))],
        "doc_id long, text string",
    )
    got = duplicate_spans(df, min_len=64, stride=16).collect()
    assert {r["doc_id"] for r in got} == {1, 2}


def test_simhash_hof_fold_edge_semantics(spark):
    # r15-opt: the sketch folds inside the row (no explode/groupBy).
    # Pin the edge semantics the explode form implied: docs with no
    # tokens (empty text / NULL text) emit NO sketch row, and the
    # occurrence-vote fold equals the weight-grouped definition.
    from metrics_advisor_spark.functions.dedup import simhash

    df = spark.createDataFrame(
        [
            (1, "alpha beta alpha"),
            (2, ""),            # zero tokens -> no row
            (3, None),          # NULL text  -> no row
            (4, "alpha beta alpha"),  # identical text -> identical sketch
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    assert set(rows) == {1, 4}
    assert rows[1] == rows[4]
    # reference: per-bit vote = sum over occurrences of +/-1 (equal to
    # the per-distinct-hash +/-weight definition by linearity)
    import hashlib

    def h56(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:14], 16)

    toks = ["alpha", "beta", "alpha"]
    expect = 0
    for b in range(56):
        vote = sum(1 if (h56(t) >> b) & 1 else -1 for t in toks)
        if vote > 0:
            expect |= 1 << b
    assert rows[1] == expect


def test_minhash_signatures_hof_fold_edge_semantics(spark):
    # r15-opt: all k permutation minima fold in-row.  Pin the explode
    # semantics: NULL text emits no rows; empty text still emits k rows
    # (split("") -> [""] -> one gram); values match the closed-form
    # reference.
    from metrics_advisor_spark.functions.dedup import (
        MERSENNE_P,
        _perm_a,
        _perm_b,
        minhash_signatures,
    )

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    rows = minhash_signatures(df, n=3, k=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], {})[r["perm_id"]] = r["minhash"]
    assert set(by_doc) == {1, 3}
    assert set(by_doc[1]) == {0, 1, 2, 3}
    import hashlib

    def h56(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:14], 16)

    def ref_sigs(words, n=3, k=4):
        grams = [
            " ".join(words[i: i + n])
            for i in range(max(len(words) - n, 0) + 1)
        ]
        hs = [h56(g) % MERSENNE_P for g in grams]
        return {
            i: min((_perm_a(i) * h + _perm_b(i)) % MERSENNE_P for h in hs)
            for i in range(k)
        }

    assert by_doc[1] == ref_sigs(["a", "b", "c", "d"])
    assert by_doc[3] == ref_sigs([""])


def test_minhash_estimate_pair_broadcast_follows_session_threshold(
    spark, docs
):
    """The pair-side broadcast hint of `minhash_jaccard_estimate` is
    capped by ``spark.sql.autoBroadcastJoinThreshold`` (16 bytes per
    pair): with broadcasts turned off (-1) the plan carries no hint,
    and the rows equal those under the default threshold."""
    from metrics_advisor_spark.functions.dedup import (
        minhash_jaccard_estimate,
    )

    def run():
        out = minhash_jaccard_estimate(docs, n=3, k=16, bands=4)
        plan = out._jdf.queryExecution().analyzed().toString()
        return plan.count("strategy=broadcast"), sorted(
            map(tuple, out.collect())
        )

    key = "spark.sql.autoBroadcastJoinThreshold"
    hints_default, rows_default = run()
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        hints_off, rows_off = run()
    finally:
        spark.conf.set(key, old)
    assert hints_default == 1
    assert hints_off == 0
    assert rows_default and rows_off == rows_default
