"""Raw Prometheus ``query_range`` JSON source (FIXTURES.md §3).

Each reference bundle ships the raw Prometheus matrix responses under
``metrics/*.json`` (one file per metric) alongside the reshaped CSVs;
the reference tool ignores them (`*.csv` glob only,
/root/reference/metrics_advisor.py:115,120).  This engine ingests them
directly, so the upstream "reshape" step is optional:

    {"status":"success","data":{"resultType":"matrix","result":[
        {"metric":{<labels>},"values":[[<epoch>,"<val>"],…]}]}}

→ canonical ``signals(metric, series, ts, value)``:

- metric  = file basename sans ``.json`` (S5 pattern; ``__name__`` label
  wins when present)
- series  = label VALUES joined with ':' in label-key order — matching
  the reshaper's flattened CSV headers (``vda:172.17.16.11:9100`` =
  device:instance, keys sorted)
- one row per sample; the string sample value casts to double, and a
  ``"NaN"`` sample becomes null, the missing value the CSV path reads

All transforms are JVM-side (explode + map/array functions over an
explicit schema — no Python), so ingest is one distributed scan with
column pruning like the CSV path.
"""

from __future__ import annotations

import os
import tarfile
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

PROM_SCHEMA = T.StructType(
    [
        T.StructField("status", T.StringType()),
        T.StructField(
            "data",
            T.StructType(
                [
                    T.StructField("resultType", T.StringType()),
                    T.StructField(
                        "result",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField(
                                        "metric",
                                        T.MapType(T.StringType(), T.StringType()),
                                    ),
                                    T.StructField(
                                        "values",
                                        T.ArrayType(
                                            T.ArrayType(T.StringType())
                                        ),
                                    ),
                                ]
                            )
                        ),
                    ),
                ]
            ),
        ),
    ]
)


def read_prometheus_json(
    spark: SparkSession,
    path: str,
    drop_labels: tuple[str, ...] = ("__name__", "job"),
) -> DataFrame:
    """Scan a directory/glob of Prometheus matrix JSON files into the
    canonical signals schema.

    ``drop_labels`` are excluded from the series key — the reference's
    reshaper drops ``job`` (CSV headers are e.g. device:instance only)
    and ``__name__`` (the metric identity is the FILE name, matching the
    CSV path's S5 naming, e.g. ``tidb_conn_cnt:by_instance`` even though
    ``__name__`` is ``tidb_server_connections``)."""
    raw = (
        spark.read.option("multiLine", "true")
        .schema(PROM_SCHEMA)
        .json(path)
        .withColumn("_file", F.input_file_name())
    )
    file_metric = F.regexp_extract(F.col("_file"), r"([^/]+)\.json$", 1)
    series_df = raw.select(
        file_metric.alias("_file_metric"),
        F.explode("data.result").alias("r"),
    ).filter(F.col("r.values").isNotNull())

    labels = F.col("r.metric")
    # series key: label values in label-key order, ':'-joined
    drop_arr = F.array(*[F.lit(x) for x in drop_labels])
    sorted_entries = F.array_sort(
        F.filter(
            F.map_entries(labels),
            lambda e: ~F.array_contains(drop_arr, e["key"]),
        )
    )
    series_key = F.array_join(
        F.transform(sorted_entries, lambda e: e["value"]), ":"
    )
    samples = series_df.select(
        F.col("_file_metric").alias("metric"),
        F.when(series_key == "", F.lit("agg_val"))
        .otherwise(series_key)
        .alias("series"),
        F.explode("r.values").alias("v"),
    )
    return samples.select(
        "metric",
        "series",
        F.timestamp_seconds(
            F.element_at("v", 1).cast("long")
        ).alias("ts"),
        F.nanvl(
            F.element_at("v", 2).cast("double"), F.lit(None).cast("double")
        ).alias("value"),
    )


def extract_prom_tar(input_tar: str, dest: str | None = None) -> str:
    """Extract the ``metrics/*.json`` members (raw Prometheus responses)
    of a reference bundle; AppleDouble ``._*`` junk is skipped."""
    dest = dest or tempfile.mkdtemp(prefix="ma_prom_ingest_")
    with tarfile.open(input_tar) as tf:
        for m in tf.getmembers():
            base = os.path.basename(m.name)
            if not (
                m.isfile()
                and base.endswith(".json")
                and not base.startswith("._")
                and os.path.basename(os.path.dirname(m.name)) == "metrics"
            ):
                continue
            src = tf.extractfile(m)
            if src is None:
                continue
            with open(os.path.join(dest, base.replace(":", "%3A")), "wb") as out:
                out.write(src.read())
    return dest


def ingest_prom_tar(spark: SparkSession, input_tar: str) -> DataFrame:
    """Tar bundle → raw Prometheus JSON → canonical signals."""
    dest = extract_prom_tar(input_tar)
    sig = read_prometheus_json(spark, dest)
    # file names were %3A-escaped for Hadoop paths, and input_file_name()
    # URL-encodes the literal '%' once more ('%253A') — undo both
    return sig.withColumn(
        "metric",
        F.regexp_replace(
            F.regexp_replace("metric", "%253A", ":"), "%3A", ":"
        ),
    )
