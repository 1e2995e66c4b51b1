"""O5 typed config, I6 retry backoff, S11 view egress."""

from __future__ import annotations

import json

import pytest

from jobcan_fixtures import make_entities, make_request_docs
from jobcan_data_integrator_spark.config import EngineConfig
from jobcan_data_integrator_spark.pipeline import JobcanPipeline
from jobcan_data_integrator_spark.sources.client import JobcanApiClient
from jobcan_data_integrator_spark.sources.mock_api import MockJobcanApi
from jobcan_data_integrator_spark.state import Checkpoint
from jobcan_data_integrator_spark.storage import TableStore


def test_config_defaults():
    cfg = EngineConfig(base_dir="/x")
    assert cfg.min_interval == pytest.approx(0.72)
    assert cfg.raw_data_dir == "/x/raw_data"
    assert cfg.retry_backoff == [60.0, 300.0, 900.0]


def test_config_derived_interval():
    cfg = EngineConfig(requests_per_hour=7200, requests_per_sec=-1)
    assert cfg.min_interval == pytest.approx(0.5)


def test_config_from_ini(tmp_path):
    ini = tmp_path / "config.ini"
    ini.write_text(
        """
; reference-dialect config (comments, 0/1 booleans, {BASE_DIR})
REQUESTS_PER_HOUR=1000
REQUESTS_PER_SEC=-1
SAVE_RAW_DATA=0
INCLUDE_CANCELED_FORMS=1
RAW_DATA_DIR={BASE_DIR}/bronze
UNKNOWN_KEY=ignored
""",
        encoding="utf-8",
    )
    cfg = EngineConfig.from_ini(ini, base_dir="/data")
    assert cfg.requests_per_hour == 1000
    assert cfg.min_interval == pytest.approx(3.6)
    assert cfg.save_raw_data is False
    assert cfg.include_canceled is True
    assert cfg.raw_data_dir == "/data/bronze"


class _FlakyTransport:
    """Raises ConnectionError for the first N calls, then delegates."""

    def __init__(self, inner, n_failures: int) -> None:
        self.inner = inner
        self.remaining = n_failures
        self.calls = 0

    def __call__(self, path, params):
        self.calls += 1
        if self.remaining > 0:
            self.remaining -= 1
            raise ConnectionError("flaky network")
        return self.inner(path, params)


def test_retry_backoff_resumes(spark, tmp_path):
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    api = MockJobcanApi(
        entities={
            k: [json.loads(r) for r in v] for k, v in make_entities(4).items()
        },
        documents=[json.loads(d) for d in make_request_docs(4)],
    )
    flaky = _FlakyTransport(api, n_failures=2)
    pipe = JobcanPipeline(
        spark,
        JobcanApiClient(flaky),
        TableStore(spark, tmp_path / "t", write_partitions=1),
        Checkpoint(tmp_path / "c"),
        now_fn=lambda: "2024/04/01 00:00:00",
        archive_raw=False,
    )
    sleeps: list[float] = []
    summary = pipe.run_with_retry(backoff=[1, 2, 3], sleep=sleeps.append)
    assert sleeps == [1, 2]  # two transient failures, two backoffs
    assert summary.detail_fetched == 4


def test_retry_gives_up_after_schedule(spark, tmp_path):
    api = MockJobcanApi(entities={}, documents=[])
    flaky = _FlakyTransport(api, n_failures=99)
    pipe = JobcanPipeline(
        spark,
        JobcanApiClient(flaky),
        TableStore(spark, tmp_path / "t"),
        Checkpoint(tmp_path / "c"),
        archive_raw=False,
    )
    sleeps: list[float] = []
    with pytest.raises(ConnectionError):
        pipe.run_with_retry(backoff=[1], sleep=sleeps.append)
    assert sleeps == [1]


def test_export_views(spark, tmp_path):
    from jobcan_data_integrator_spark import views as V
    from jobcan_data_integrator_spark.operators.entities import (
        ENTITY_APIS,
        parse_entities,
    )
    from jobcan_data_integrator_spark.operators.shred import (
        parse_request_documents,
        shred_request_documents,
    )

    raw = spark.createDataFrame([(d,) for d in make_request_docs(6)], "raw string")
    tables = shred_request_documents(parse_request_documents(raw))
    for api, records in make_entities(6).items():
        ddl, shred = ENTITY_APIS[api]
        out = shred(parse_entities(spark.createDataFrame([(r,) for r in records], "raw string"), ddl))
        tables.update(out if isinstance(out, dict) else {api: out})
    V.register_views(spark, tables)

    counts = V.export_views(
        spark, str(tmp_path / "gold"), names=["view_user_details", "view_request_details"]
    )
    assert counts["view_user_details"] > 0
    back = spark.read.parquet(str(tmp_path / "gold" / "view_user_details"))
    assert back.count() == counts["view_user_details"]
    for name, n in counts.items():
        assert n == spark.table(f"`{name}`").count()

    csv_counts = V.export_views(
        spark, str(tmp_path / "csv"), names=["view_立替精算(書式3)"], fmt="csv"
    )
    got = spark.read.option("header", True).csv(str(tmp_path / "csv" / "view_立替精算(書式3)"))
    assert got.count() == csv_counts["view_立替精算(書式3)"]
    assert csv_counts["view_立替精算(書式3)"] == spark.table("`view_立替精算(書式3)`").count()
    assert "申請ID" in got.columns
