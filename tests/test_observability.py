"""Observation-based metrics ride the consuming action (no extra scan)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_prometheus_exposition_format(tmp_path):
    """Counters render as valid Prometheus text exposition: TYPE line
    per metric, sanitized names, escaped label values, atomic file
    write (no .tmp left behind)."""
    from milan_telecom_etl__spark.metrics_export import (
        render_prometheus,
        write_prom_textfile,
    )

    metrics = {"n_rows": 1234, "value_nulls": 7, "reject-rate": 0.015,
               "skipme": "not-numeric"}
    text = render_prometheus(
        metrics, labels={"table": 'traffic"q', "load_id": "20240101"}
    )
    assert "# TYPE milan_etl_n_rows gauge" in text
    assert 'milan_etl_reject_rate{load_id="20240101",table="traffic\\"q"} 0.015' in text
    assert "skipme" not in text

    p = tmp_path / "milan.prom"
    payload = write_prom_textfile(str(p), metrics, labels={"table": "t"})
    assert p.read_text() == payload
    assert not (tmp_path / "milan.prom.tmp").exists()
    # every sample line ends with the stamp; parseable as float
    for line in payload.splitlines():
        if not line.startswith("#"):
            name_val = line.split()
            assert len(name_val) == 3  # name{labels} value timestamp
            float(name_val[1])


def test_pipeline_metrics_roundtrip_through_exposition(spark):
    """Observation counters flow straight into the exporter."""
    from pyspark.sql import Observation

    from milan_telecom_etl__spark.metrics_export import render_prometheus

    df = spark.range(100).withColumn(
        "v", F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id"))
    )
    obs = Observation("load_metrics")
    rows = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("v").isNull().cast("long")).alias("v_nulls"),
    ).collect()
    assert len(rows) == 100
    text = render_prometheus(obs.get, labels={"load": "unit"})
    assert 'milan_etl_n_rows{load="unit"} 100' in text
    assert 'milan_etl_v_nulls{load="unit"} 10' in text
