from __future__ import annotations

import os
import sys
from datetime import datetime, timezone

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from metrics_advisor_spark import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("metrics_advisor_spark_tests", shuffle_partitions=8)
    yield s


def epoch_dt(t: int) -> datetime:
    return datetime.fromtimestamp(int(t), tz=timezone.utc).replace(tzinfo=None)


def make_signals_df(spark, series: dict[tuple[str, str], np.ndarray],
                    t0: int = 1640588307, step: int = 15):
    """Build a signals DataFrame from {(metric, series): values}."""
    rows = []
    for (m, s), v in series.items():
        for i, val in enumerate(np.asarray(v, dtype=float)):
            rows.append((m, s, epoch_dt(t0 + step * i),
                         None if np.isnan(val) else float(val)))
    return spark.createDataFrame(
        rows, "metric string, series string, ts timestamp, value double"
    )


def pairwise_lagged_pearson(obj, cand, lag_max: int, window: int = 40):
    """Numpy reference for the lagged correlation of two regular-grid
    series: {(window, lag): (corr, n_pairs)} over the complete pairs
    (obj[i], cand[i + lag]) with i and i + lag in the same window.  NaN
    marks a missing sample; windows with fewer than two complete pairs or
    a constant side are absent."""
    obj, cand = np.asarray(obj, dtype=float), np.asarray(cand, dtype=float)
    out = {}
    for b in range(-(-obj.size // window)):
        i = np.arange(b * window, min((b + 1) * window, obj.size))
        for lag in range(-lag_max, lag_max + 1):
            j = i + lag
            inside = (j >= i[0]) & (j <= i[-1])
            x, y = obj[i[inside]], cand[j[inside]]
            ok = ~np.isnan(x) & ~np.isnan(y)
            x, y = x[ok], y[ok]
            if x.size < 2 or x.std() == 0 or y.std() == 0:
                continue
            out[(b, lag)] = (float(np.corrcoef(x, y)[0, 1]), int(x.size))
    return out
