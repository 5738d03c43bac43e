"""Round-11/16 operational invariants that need a Spark session (the
pure-python properties live in test_round11_props.py).

The PQ index injection (`__spark_entry__._fit_codebook` /
`_fit_ivfpq_fine`) replaces per-consumer codebook fits with collected
VALUES LocalRelations, fit once per query invocation (r16: the r11
cross-invocation cache was retired — every invocation now pays its own
fit); these tests pin that the injected relations are VALUE- and
SCHEMA-identical to the direct fits — the attestation the driver gate
can't provide until the rotation window reaches the touched queries
(code-review finding r11)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_injected_codebook_matches_direct_fit(spark):
    import __spark_entry__ as em
    from metrics_advisor_spark.functions.pq import pq_codebook

    emb = em._emb(spark, SF)
    direct = pq_codebook(emb, m=4, k=16)
    injected = em._fit_codebook(spark, emb, m=4, k=16)
    # names + dtypes must match exactly; nullability legitimately
    # differs (a VALUES LocalRelation is non-nullable where the fit's
    # aggregate outputs are nullable) and does not participate in the
    # driver's hash compare (driver_sim: exact on every consumer)
    assert injected.dtypes == direct.dtypes
    key = ["s", "code"]
    d = {tuple(r[k] for k in key): (r["centroid"], r["n_assigned"])
         for r in direct.collect()}
    c = {tuple(r[k] for k in key): (r["centroid"], r["n_assigned"])
         for r in injected.collect()}
    assert set(d) == set(c)
    for k in d:
        assert d[k][1] == c[k][1], k
        assert d[k][0] == c[k][0], k  # bit-exact doubles (repr roundtrip)
    # r16: NO cross-invocation memo — a second call is a fresh fit
    # (fresh DataFrame object), with identical values
    again = em._fit_codebook(spark, emb, m=4, k=16)
    assert again is not injected
    assert sorted(map(tuple, again.collect())) == sorted(
        map(tuple, injected.collect())
    )


def test_injected_ivfpq_fine_matches_internal_fit(spark):
    """The injected fine codebook must be bit-identical to what
    `_ivfpq_parts` would fit internally given the same coarse/amap —
    verified end-to-end: injected vs per-call ivfpq_search results are
    row-identical."""
    import __spark_entry__ as em
    from metrics_advisor_spark.functions.pq import ivfpq_search, pq_encode

    emb = em._emb(spark, SF)
    q = emb.filter(F.col("vec_id") < 5)
    plain = ivfpq_search(
        q, emb, k_coarse=8, m=4, k_codes=16, nprobe=2, k=10
    )
    coarse = em._fit_codebook(spark, emb, m=1, k=8).select(
        "s", "code", "centroid"
    )
    amap = pq_encode(emb, coarse, m=1).select(
        "vec_id", F.col("code").alias("cell")
    ).persist()
    fine = em._fit_ivfpq_fine(spark, emb, coarse, amap, m=4, k_codes=16)
    injected = ivfpq_search(
        q, emb, k_coarse=8, m=4, k_codes=16, nprobe=2, k=10,
        coarse=coarse, amap=amap, fine=fine,
    )
    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, injected.collect()))
    assert a == b
    amap.unpersist()


def test_ivfpq_injected_fine_not_attached_or_persisted(spark):
    """Caller-managed contract (code-review finding r11): with an
    injected fine codebook, ivfpq_search must not persist it and must
    not attach it for release."""
    from pyspark import StorageLevel

    import __spark_entry__ as em
    from metrics_advisor_spark.functions.cacheutil import _ATTR
    from metrics_advisor_spark.functions.pq import ivfpq_search, pq_encode

    emb = em._emb(spark, SF)
    q = emb.filter(F.col("vec_id") < 3)
    coarse = em._fit_codebook(spark, emb, m=1, k=8).select(
        "s", "code", "centroid"
    )
    amap = pq_encode(emb, coarse, m=1).select(
        "vec_id", F.col("code").alias("cell")
    )
    fine = em._fit_ivfpq_fine(spark, emb, coarse, amap, m=4, k_codes=16)
    out = ivfpq_search(
        q, emb, k_coarse=8, m=4, k_codes=16, nprobe=2, k=5,
        coarse=coarse, amap=amap, fine=fine,
    )
    out.count()
    assert fine.storageLevel == StorageLevel.NONE
    held = getattr(out, _ATTR, [])
    for f in held:
        assert f is not fine and f is not coarse and f is not amap


def test_ivfpq_search_releases_amap_when_fine_fit_fails(spark, monkeypatch):
    """The coarse assignment map is persisted before the fine fit; a
    failing fit must not leave it in the session's cache."""
    import __spark_entry__ as em

    def fail(*args, **kwargs):
        raise RuntimeError("fine fit failed")

    spark.catalog.clearCache()
    monkeypatch.setattr(em, "_fit_ivfpq_fine", fail)
    with pytest.raises(RuntimeError, match="fine fit failed"):
        em.q_ivfpq_search(spark, SF)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_ann_recall_audit_keeps_no_state(spark):
    """Every audit call builds and fits its own plan: a repeat call on
    the same inputs is a new DataFrame with the same rows."""
    import __spark_entry__ as em
    from metrics_advisor_spark.functions.cacheutil import release_cached
    from metrics_advisor_spark.functions.pq import ann_recall_audit

    emb = em._emb(spark, SF)
    q = emb.filter(F.col("vec_id") < 5)
    first = ann_recall_audit(q, emb, k=10, k_coarse=8, m=4, k_codes=16)
    rows = sorted(map(tuple, first.collect()))
    release_cached(first)
    second = ann_recall_audit(q, emb, k=10, k_coarse=8, m=4, k_codes=16)
    assert second is not first
    assert sorted(map(tuple, second.collect())) == rows
    release_cached(second)


def test_fit_codebook_rejects_non_finite_centroid(spark):
    """One all-NaN embedding makes a centroid non-finite; the injected
    codebook must fail with a descriptive error, not unparseable SQL."""
    import __spark_entry__ as em

    emb = em._emb(spark, SF).withColumn(
        "embedding",
        F.when(
            F.col("vec_id") == 0,
            F.transform(
                "embedding", lambda x: F.lit(float("nan")).cast("float")
            ),
        ).otherwise(F.col("embedding")),
    )
    with pytest.raises(ValueError, match="non-finite centroid"):
        em._fit_codebook(spark, emb, m=4, k=16)


def test_png_palette_index_out_of_range_raises():
    import struct
    import zlib

    from metrics_advisor_spark.functions.png import decode_png

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    # 1x1 depth-8 palette image whose index (7) exceeds the 2-entry PLTE
    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0)
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", bytes([0, 0, 0, 255, 255, 255]))
        + chunk(b"IDAT", zlib.compress(b"\x00\x07"))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="palette index"):
        decode_png(payload)
    # 0-length PLTE must be rejected at parse, not surface IndexError
    payload0 = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", b"")
        + chunk(b"IDAT", zlib.compress(b"\x00\x00"))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="PLTE"):
        decode_png(payload0)
