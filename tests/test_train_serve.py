"""Train + serve chain over the fixture orders (reference train_stub +
API round-trip parity, in-process)."""

import pytest
from pyspark.sql import functions as F

from ecom_churn_lakehouse_spark.plans.churn import training_snapshot
from ecom_churn_lakehouse_spark.serving import LatestFeaturesClient, PredictionService
from ecom_churn_lakehouse_spark.serving.feature_store import VersionMismatch
from ecom_churn_lakehouse_spark.sources import normalized_orders
from ecom_churn_lakehouse_spark.training import TrainedModel, train_churn_model

AS_OF = "1997-06-30"
SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def snapshot(spark):
    return training_snapshot(normalized_orders(spark, SF), AS_OF)


def test_train_is_deterministic_and_learns(spark, snapshot):
    m1 = train_churn_model(snapshot)
    m2 = train_churn_model(snapshot)
    assert m1.coef == m2.coef and m1.intercept == m2.intercept
    # better than the majority-class baseline would be ideal, but at
    # minimum the fit must beat coin-flip and produce finite params
    assert m1.train_accuracy >= 0.5
    assert all(abs(c) < 100 for c in m1.coef)


def test_model_roundtrip_and_predict(spark, snapshot, tmp_path):
    model = train_churn_model(snapshot)
    path = str(tmp_path / "model.json")
    model.save(path)
    loaded = TrainedModel.load(path)
    feats = {c: 1.0 for c in model.feature_cols}
    assert loaded.predict_proba(feats) == pytest.approx(model.predict_proba(feats))
    assert 0.0 <= loaded.predict_proba(feats) <= 1.0


def test_serving_round_trip(spark, snapshot, tmp_path):
    model = train_churn_model(snapshot)
    # build a latest-features export with version stamps
    export = str(tmp_path / "latest")
    snapshot.withColumn("_feature_version", F.lit("fv1")).withColumn(
        "as_of_date", F.to_date(F.lit(AS_OF))
    ).write.mode("overwrite").parquet(export)

    client = LatestFeaturesClient(export)
    assert len(client) > 0
    svc = PredictionService(client, model, expected_feature_version="fv1")
    some_id = next(iter(client._by_key))
    out = svc.predict(some_id)
    assert out is not None
    assert 0.0 <= out["churn_probability"] <= 1.0
    assert out["churn_prediction"] in (0, 1)
    assert out["feature_version"] == "fv1"
    # unknown customer → None (404 path)
    assert svc.predict(-999999) is None


def test_version_gate_blocks(spark, snapshot, tmp_path):
    model = train_churn_model(snapshot)
    export = str(tmp_path / "latest")
    snapshot.withColumn("_feature_version", F.lit("fv-OLD")).withColumn(
        "as_of_date", F.to_date(F.lit(AS_OF))
    ).write.mode("overwrite").parquet(export)
    svc = PredictionService(
        LatestFeaturesClient(export), model, expected_feature_version="fv-NEW"
    )
    some_id = next(iter(svc.client._by_key))
    with pytest.raises(VersionMismatch):
        svc.predict(some_id)


def test_distributed_trainer_matches_collect_trainer(spark, snapshot):
    from ecom_churn_lakehouse_spark.training import train_churn_model_distributed

    iters = 60
    m_collect = train_churn_model(snapshot, iters=iters)
    m_dist = train_churn_model_distributed(snapshot, iters=iters)
    # Same full-batch GD, different accumulation order: agreement to
    # float tolerance, not bit equality.
    assert m_dist.coef == pytest.approx(m_collect.coef, rel=1e-5, abs=1e-6)
    assert m_dist.intercept == pytest.approx(
        m_collect.intercept, rel=1e-5, abs=1e-6
    )
    assert m_dist.n_rows == m_collect.n_rows
    assert m_dist.train_accuracy == pytest.approx(
        m_collect.train_accuracy, abs=1e-9
    )
    assert m_dist.metadata["distributed"] is True


def test_training_lineage_roundtrips_into_serving(spark, snapshot, tmp_path):
    """Lineage artifact (MLflow-compatible layout, train_stub.py:108-122
    conventions) round-trips into PredictionService."""
    from ecom_churn_lakehouse_spark.training import (
        TrainedModel,
        load_model_meta,
        log_training_run,
        train_churn_model,
    )

    model = train_churn_model(snapshot)
    run = log_training_run(
        model,
        str(tmp_path),
        model_name="ecomm-churn",
        data_snapshot_id="snap-001",
        feature_version="fv1",
        label_version="lv1",
        extra_metrics={"roc_auc": 0.5},
    )
    # MLflow file-store layout present
    assert (run.run_dir / "meta.yaml").exists()
    assert (run.run_dir / "params" / "model_name").read_text() == "ecomm-churn"
    assert (run.run_dir / "metrics" / "train_accuracy").read_text().split()[1]
    assert (run.run_dir / "tags" / "mlflow.runName").exists()
    # content-hashed model version is deterministic (idempotent re-run)
    run2 = log_training_run(
        model, str(tmp_path / "again"), model_name="ecomm-churn",
        data_snapshot_id="snap-001", feature_version="fv1", label_version="lv1",
    )
    assert run.model_version == run2.model_version
    # sidecars carry the reference's key set
    meta = load_model_meta(str(tmp_path))
    assert meta["approved_model_version"] == run.model_version
    assert meta["feature_columns"] == model.feature_cols
    assert meta["metrics"]["roc_auc"] == 0.5
    # model artifact loads and serves
    loaded = TrainedModel.load(meta["model_artifact"])
    export = str(tmp_path / "latest")
    snapshot.withColumn("_feature_version", F.lit(meta["feature_version"])).withColumn(
        "as_of_date", F.to_date(F.lit(AS_OF))
    ).write.mode("overwrite").parquet(export)
    svc = PredictionService(
        LatestFeaturesClient(export),
        loaded,
        expected_feature_version=meta["feature_version"],
    )
    some_id = next(iter(svc.client._by_key))
    out = svc.predict(some_id)
    assert out is not None and 0.0 <= out["churn_probability"] <= 1.0


def _synthetic_snapshot(spark, n):
    import pandas as pd

    from ecom_churn_lakehouse_spark.training.train import FEATURE_COLS

    # from pandas: a LocalRelation, so the collect is the only job
    return spark.createDataFrame(
        pd.DataFrame(
            {c: [float((i * (k + 3)) % 17) for i in range(n)] for k, c in enumerate(FEATURE_COLS)}
            | {"churn_label": [i % 2 for i in range(n)]}
        )
    )


def test_unsampled_training_collects_in_one_job(spark, jobs):
    snap = _synthetic_snapshot(spark, 200)
    assert jobs(lambda: train_churn_model(snap)) == 1
    m = train_churn_model(snap)
    assert m.n_rows == 200
    assert m.metadata == {"sampled": False, "total_rows": 200}


def test_training_samples_above_the_driver_cap(spark, monkeypatch):
    import ecom_churn_lakehouse_spark.training.train as train

    snap = _synthetic_snapshot(spark, 200)
    monkeypatch.setattr(train, "MAX_DRIVER_ROWS", 200)  # at the cap: no sample
    assert train.train_churn_model(snap).metadata == {"sampled": False, "total_rows": 200}
    monkeypatch.setattr(train, "MAX_DRIVER_ROWS", 50)
    m = train.train_churn_model(snap)
    assert m.metadata == {"sampled": True, "total_rows": 200}
    # the deterministic hash sample keeps about a quarter of the rows
    assert 0 < m.n_rows < 200
    assert train.train_churn_model(snap).coef == m.coef
