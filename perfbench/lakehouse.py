"""``lakehouse_refresh``: the medallion lifecycle on a seeded raw feed,
then a CDC delta, then a closed-loop stream of ``ChurnApi.predict``
requests from one client.

Every pass starts from an empty lake. ``refresh_s`` runs from the raw
batch landing until the new export serves its first prediction:
bronze, silver, gold, labels, training snapshot, export, training and
the serving-client load. ``incremental_s`` runs from the CDC delta
landing until the reloaded client serves a touched key: bronze append,
silver MERGE, ``incremental_gold_update``, export and client reload.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.harness import (
    MB,
    file_sizes,
    median,
    percentile,
    read_event_log,
    spark_layer,
)

API_KEY = "perfbench-key"
HEADERS = {"X-API-Key": API_KEY}
FEATURES = [
    "customer_id", "as_of_date", "recency_days", "orders_30d", "orders_90d",
    "lifetime_orders", "customer_tenure_days", "avg_days_between_orders",
]
SCALES = {
    "bench": {"n_customers": 1500, "n_orders": 15000, "requests": 10000},
    "smoke": {"n_customers": 150, "n_orders": 1500, "requests": 2000},
}


class LakehouseRefresh:
    name = "lakehouse_refresh"

    def __init__(self, scale: str):
        self.scale = SCALES[scale]

    # --------------------------------------------------------------- inputs

    def prepare(self, data_dir: str, seed: int) -> dict:
        sc = self.scale
        raw = os.path.join(data_dir, "raw", "orders.parquet")
        delta = os.path.join(data_dir, "cdc", "orders.parquet")
        keys = os.path.join(data_dir, "cdc_keys", "keys.parquet")
        counts, by_customer = inputs.write_raw_feed(
            raw, seed, n_customers=sc["n_customers"], n_orders=sc["n_orders"],
            n_dups=sc["n_orders"] // 50, n_null_keys=sc["n_orders"] // 250,
            n_bad_ts=sc["n_orders"] // 375,
        )
        touched, n_changes = inputs.write_cdc_delta(delta, seed, by_customer)
        inputs.write_table(pa.table({"customer_id": touched}), keys)
        as_of = inputs.AS_OF_DATE + " 23:59:59"
        known = sorted(c for c, rows in by_customer.items() if min(r[1] for r in rows) <= as_of)
        served = set(known)
        return {
            "dir": data_dir,
            "raw": os.path.dirname(raw),
            "delta": os.path.dirname(delta),
            "keys": os.path.dirname(keys),
            "counts": counts,
            "touched": touched,
            "n_delta_new": len(touched),
            "n_delta_changes": n_changes,
            "requests": inputs.request_stream(seed, known, sc["requests"]),
            # a key the export serves, touched by the delta when one is
            "probe": next((c for c in touched if c in served), known[0]),
        }

    def prime(self, bench, inp: dict) -> None:
        for p in (inp["raw"], inp["delta"], inp["keys"]):
            bench.spark.read.parquet(p).write.format("noop").mode("overwrite").save()

    # ------------------------------------------------------------- one pass

    def _lake(self, bench, idx: int) -> dict:
        base = os.path.join(bench.work, f"lake-{idx}")
        return {
            k: os.path.join(base, k)
            for k in ("bronze", "audit", "silver", "quarantine", "gold", "labels",
                      "snapshot", "export", "gold_full")
        } | {"base": base}

    def run_pass(self, bench, inp: dict, idx: int, plant_defect: bool = False) -> dict:
        """One pass on an empty lake; the checks run after the timed parts."""
        from ecom_churn_lakehouse_spark.pipelines import (
            bronze_ingest, gold_features, label_snapshot, latest_features_export,
            silver_publish, training_snapshot_publish,
        )
        from ecom_churn_lakehouse_spark.pipelines.incremental import incremental_gold_update
        from ecom_churn_lakehouse_spark.serving.api import ChurnApi
        from ecom_churn_lakehouse_spark.serving.feature_store import (
            LatestFeaturesClient, PredictionService,
        )
        from ecom_churn_lakehouse_spark.sources.managed_table import ManagedTable
        from ecom_churn_lakehouse_spark.training.train import train_churn_model

        spark, lake, as_of = bench.spark, self._lake(bench, idx), inputs.AS_OF_DATE
        pre = f"p{idx}"
        stage_s, failed = {}, []

        def stage(name, parent, fn):
            with bench.phase(name, f"{pre}|{parent}") as rec:
                out = fn()
            stage_s[name] = rec["seconds"]
            return out

        def serve_one(api, cid):
            status, _ = api.predict({"customer_id": cid}, HEADERS)
            if status != 200:
                failed.append(f"first request for {cid} returned {status}")

        t0 = time.perf_counter()
        stage("bronze", "refresh", lambda: bronze_ingest(
            spark, inp["raw"], lake["bronze"], lake["audit"], f"{pre}-bronze"))
        silver = stage("silver", "refresh", lambda: silver_publish(
            spark, lake["bronze"], lake["silver"], lake["quarantine"], f"{pre}-silver"))
        stage("gold", "refresh", lambda: gold_features(
            spark, lake["silver"], lake["gold"], as_of, f"{pre}-gold"))
        stage("labels", "refresh", lambda: label_snapshot(
            spark, lake["silver"], lake["labels"], as_of, f"{pre}-labels"))
        stage("snapshot", "refresh", lambda: training_snapshot_publish(
            spark, lake["gold"], lake["labels"], lake["snapshot"], as_of, f"{pre}-snapshot"))
        stage("export", "refresh", lambda: latest_features_export(
            spark, lake["gold"], lake["export"]))
        model = stage("train", "refresh", lambda: train_churn_model(
            ManagedTable(spark, lake["snapshot"], keys=["customer_id", "as_of_date"]).read()))
        client = stage("client_load", "refresh", lambda: LatestFeaturesClient(lake["export"]))
        api = ChurnApi(PredictionService(client, model), api_key=API_KEY)
        serve_one(api, inp["probe"])
        refresh_s = time.perf_counter() - t0

        silver_bytes_before = file_sizes(lake["silver"])
        t0 = time.perf_counter()
        stage("bronze_delta", "incremental", lambda: bronze_ingest(
            spark, inp["delta"], lake["bronze"], lake["audit"], f"{pre}-bronze-delta"))
        silver2 = stage("silver_delta", "incremental", lambda: silver_publish(
            spark, lake["bronze"], lake["silver"], lake["quarantine"], f"{pre}-silver-delta"))
        stage("gold_incremental", "incremental", lambda: incremental_gold_update(
            spark, lake["silver"], lake["gold"], spark.read.parquet(inp["keys"]), as_of,
            f"{pre}-gold-incremental"))
        stage("export_delta", "incremental", lambda: latest_features_export(
            spark, lake["gold"], lake["export"]))
        client = stage("client_reload", "incremental", lambda: LatestFeaturesClient(lake["export"]))
        api = ChurnApi(PredictionService(client, model), api_key=API_KEY)
        serve_one(api, inp["probe"])
        incremental_s = time.perf_counter() - t0

        # Serving: one closed-loop client, no other threads.
        lat, results = [], []
        clock = time.perf_counter
        t_serve = clock()
        for cid, _ in inp["requests"]:
            t = clock()
            status, body = api.predict({"customer_id": cid}, HEADERS)
            lat.append(clock() - t)
            results.append((status, body.get("churn_probability")))
        serve_wall = clock() - t_serve

        silver_after = file_sizes(lake["silver"])
        new_silver = sum(v for p, v in silver_after.items() if p not in silver_bytes_before)
        lake_files = file_sizes(lake["base"])
        out = {
            "refresh_s": refresh_s,
            "incremental_s": incremental_s,
            "wall_s": refresh_s + incremental_s,
            "stage_s": stage_s,
            "serve_lat": lat,
            "serve_rps": len(lat) / serve_wall,
            "lake_mb": sum(lake_files.values()) / MB,
            "lake_files": len(lake_files),
            "merge_rewrite_ratio": new_silver / sum(file_sizes(inp["delta"]).values()),
            "silver_accept_ratio": silver.rows_published / inp["counts"].rows,
            # stages, the two first predictions, the requests, the incremental check
            "attempted": len(stage_s) + 2 + len(lat) + 1,
            "failed": failed,
            "prefix": pre,
        }
        # Correctness, outside the timed regions above.
        failed += self._check_silver(silver, silver2, inp, plant_defect)
        failed += self._check_requests(inp["requests"], results, lake["export"], model)
        failed += self._check_incremental(bench, lake, inp)
        if bench.trace:
            out["serving_layer"] = self._serving_layer(inp, client, api.service)
        shutil.rmtree(lake["base"], ignore_errors=True)
        return out

    # ---------------------------------------------------------- correctness

    @staticmethod
    def _check_silver(silver, silver2, inp, plant_defect=False) -> list[str]:
        c = inp["counts"]
        want = [
            ("silver published", silver.rows_published, c.published + int(plant_defect)),
            ("silver rejected", silver.rows_rejected, c.rejected),
            ("delta silver published", silver2.rows_published, c.published + inp["n_delta_new"]),
            ("delta silver rejected", silver2.rows_rejected, c.rejected + inp["n_delta_changes"]),
        ]
        return [f"{what}: got {got}, planted {exp}" for what, got, exp in want if got != exp]

    @staticmethod
    def _check_requests(requests, results, export_path, model) -> list[str]:
        rows = {r["customer_id"]: r for r in pq.read_table(export_path).to_pylist()}
        bad = []
        for (cid, want), (status, proba) in zip(requests, results):
            if status != want:
                bad.append(f"request {cid!r}: status {status}, expected {want}")
            elif status == 200 and proba != round(model.predict_proba(rows[cid]), 6):
                bad.append(f"request {cid!r}: probability {proba} differs from the model")
        return bad

    @staticmethod
    def _check_incremental(bench, lake, inp) -> list[str]:
        """Incremental gold rows for the touched keys must equal a full
        ``gold_features`` recompute over the same silver table."""
        from pyspark.sql import functions as F

        from ecom_churn_lakehouse_spark.pipelines import gold_features
        from ecom_churn_lakehouse_spark.sources.managed_table import ManagedTable

        spark = bench.spark
        gold_features(spark, lake["silver"], lake["gold_full"], inputs.AS_OF_DATE, "check-full")
        keys = inp["touched"]

        def rows(path):
            df = ManagedTable(spark, path, keys=["customer_id", "as_of_date"]).read()
            touched = df.filter(F.col("customer_id").isin(keys)).select(*FEATURES)
            return sorted(tuple(r) for r in touched.collect())

        inc, full = rows(lake["gold"]), rows(lake["gold_full"])
        if len(full) != len(keys):
            return [f"full recompute has {len(full)} rows for {len(keys)} touched keys"]
        return [] if inc == full else ["incremental gold differs from the full recompute"]

    # -------------------------------------------------------------- metrics

    def end_to_end(self, p: dict) -> tuple[dict, dict]:
        lat = p["serve_lat"]
        detail = {
            "refresh_s": p["refresh_s"],
            "incremental_s": p["incremental_s"],
            "serve_p50_us": median(lat) * 1e6,
            "serve_p99_us": percentile(lat, 99) * 1e6,
            "serve_samples": len(lat),
            "serve_rps": p["serve_rps"],
            "lake_mb": p["lake_mb"],
            "stage_s": p["stage_s"],
        }
        return {"wall_s": p["wall_s"]}, detail

    def per_layer(self, bench, traced: dict, log_span: tuple[int, int]) -> tuple[dict, dict]:
        ev = read_event_log(bench.eventlog_dir)
        spans = [s for s in bench.spans.items if s["name"].startswith(traced["prefix"] + "|")]
        stage = {s["name"].rsplit("|", 1)[1]: s for s in spans if s["name"].count("|") == 2}
        layer = {
            f"pipelines.{k}_s": stage[k]["seconds"]
            for k in ("bronze", "silver", "gold", "labels", "snapshot", "export",
                      "bronze_delta", "silver_delta", "gold_incremental", "export_delta")
        }
        pipeline_groups = [s["name"] for s in stage.values()]
        layer["pipelines.jobs"] = sum(s.get("jobs", 0) for s in stage.values())
        layer["dq.silver_accept_ratio"] = traced["silver_accept_ratio"]
        layer["sources.bytes_written_mb"] = traced["lake_mb"]
        layer["sources.files_written"] = traced["lake_files"]
        layer["sources.merge_rewrite_ratio"] = traced["merge_rewrite_ratio"]
        layer["training.train_s"] = stage["train"]["seconds"]
        layer["serving.client_load_s"] = (
            stage["client_load"]["seconds"] + stage["client_reload"]["seconds"]
        ) / 2
        layer.update(spark_layer([ev["groups"].get(g, {}) for g in pipeline_groups]))
        layer["spark.codegen_fallbacks"] = bench.codegen_fallbacks(*log_span)
        layer.update(traced.get("serving_layer", {}))
        layer["serving.request_p50_us"] = median(traced["serve_lat"]) * 1e6
        layer["serving.request_p99_us"] = percentile(traced["serve_lat"], 99) * 1e6
        layer["serving.rps"] = traced["serve_rps"]
        return layer, {"stage_jobs": {k: s.get("jobs", 0) for k, s in stage.items()}}

    @staticmethod
    def _serving_layer(inp: dict, client, service) -> dict:
        """Time the lookup and the model call alone on the same stream."""
        clock = time.perf_counter
        look, pred = [], []
        for cid, _ in inp["requests"]:
            t = clock()
            client.get(cid)
            look.append(clock() - t)
        for cid, _ in inp["requests"]:
            t = clock()
            service.predict(cid)
            pred.append(clock() - t)
        return {"serving.lookup_us": median(look) * 1e6, "serving.predict_us": median(pred) * 1e6}
