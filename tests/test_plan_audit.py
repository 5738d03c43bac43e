"""Plan-invariant regression tests: run the static audit from
scripts/plan_audit.py over a representative query slice on every pytest
run (plan compilation only — no execution), so a future operator that
introduces a cartesian product, a row-at-a-time Python UDF, or a
global-window single-partition exchange fails CI instead of surfacing
at 100 TB.  The full 240-query audit is `python scripts/plan_audit.py`.
"""

import importlib.util
import os

import __spark_entry__ as em


def _load_audit():
    import sys

    here = os.path.dirname(os.path.abspath(__file__))
    spec = importlib.util.spec_from_file_location(
        "plan_audit",
        os.path.join(os.path.dirname(here), "scripts", "plan_audit.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault("plan_audit", mod)
    spec.loader.exec_module(mod)
    return mod

# one query per operator family: joins, windows, HOF folds, Arrow
# stages, graph iteration producers, samplers, and the newest additions
REPRESENTATIVE = [
    "jaccard_pairs",          # inverted-index self-join
    "moving_median",          # per-series window
    "dsir_weights",           # broadcast model + fold
    "dsir_resample",          # top-k sampler
    "intradoc_repetition",    # doc-local self-join + window
    "dup_cluster_purity",     # two-level aggregate
    "dim_covariance",         # sorted sufficient-sum folds
    "topk_correlated",        # xcorr ranking
    "positional_xcorr",       # xcorr keyed by row position
    "corr_matrix_blocked",    # gram-partial correlation blocks
    "ivfpq_search",           # composed vector index (two codebooks)
    "audio_windows",          # real-codec mapInPandas path
]


def test_representative_plans_hold_scale_invariants(spark):
    audit = _load_audit()
    qs = em.queries()
    sf_dir = "/root/testdata/sf0.01"
    bad = {}
    for name in REPRESENTATIVE:
        df = qs[name](spark, sf_dir)
        flags = audit.audit_one(name, audit.plan_text(df))
        if name in audit.ALLOW_BNLJ:
            flags = [f for f in flags if f != "bnlj-nonscalar-broadcast"]
        if flags:
            bad[name] = flags
    assert not bad, f"plan invariant violations: {bad}"
