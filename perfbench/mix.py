"""``iterative_barrier``: a mix of driver-bound registry queries.

Each query is one call ``registry.queries()[name](spark, sf_dir)``
(build) followed by ``toPandas()`` (execute), which runs the plan once
and hands the result to the correctness check. After the timed pass
every result is compared with the query's DuckDB oracle. The seed
sets the inputs; the query order is fixed, because the first query also
pays the engine's own first-use cost and a seeded order moved the pass
time by up to 5 s from seed to seed.
"""

from __future__ import annotations

import importlib.util
import os
import time

from perfbench import inputs
from perfbench.harness import ROOT, covered_seconds, median, read_event_log, spark_layer

MIX = [
    "embedding_density_clusters",
    "embedding_neardup_pairs",
    "semantic_dedup_pairs",
    "stream_checksum_maintenance",
]
SCALES = {"bench": {"n_customers": 1500}, "smoke": {"n_customers": 150}}


def _compare():
    """``compare`` from tools/check_oracle.py, imported, not copied."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


class IterativeBarrier:
    name = "iterative_barrier"

    def __init__(self, scale: str):
        self.scale = SCALES[scale]

    def prepare(self, data_dir: str, seed: int) -> dict:
        inputs.write_query_tables(data_dir, seed, **self.scale)
        return {"dir": data_dir, "order": MIX}

    def prime(self, bench, inp: dict) -> None:
        for t in ("customer", "embeddings"):
            bench.spark.read.parquet(f"{inp['dir']}/{t}.parquet").write.format(
                "noop"
            ).mode("overwrite").save()

    def run_pass(self, bench, inp: dict, idx: int, plant_defect: bool = False) -> dict:
        from ecom_churn_lakehouse_spark import registry

        qs = registry.queries()
        per_query, results, failed = {}, {}, []
        start = time.time()
        for q in inp["order"]:
            top = f"p{idx}|{q}"
            try:
                with bench.phase(top) as rec:
                    with bench.phase("build", top):
                        df = qs[q](bench.spark, inp["dir"])
                    with bench.phase("execute", top):
                        results[q] = df.toPandas()
            except Exception as exc:  # a raising query is a failed operation
                failed.append(f"{q}: raised {type(exc).__name__}: {exc}")
            per_query[q] = rec["seconds"]
        end = time.time()
        failed += self._check(inp, results, plant_defect)
        return {
            "prefix": f"p{idx}",
            "start": start,
            "end": end,
            "wall_s": sum(per_query.values()),
            "per_query": per_query,
            "attempted": len(inp["order"]),
            "failed": failed,
        }

    @staticmethod
    def _check(inp: dict, results: dict, plant_defect: bool) -> list[str]:
        """Every result against its DuckDB oracle, outside the timed pass."""
        import duckdb

        from ecom_churn_lakehouse_spark import registry

        oracles, compare = registry.oracle_sql(), _compare()
        con = duckdb.connect()
        for t in ("customer", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inp['dir']}/{t}.parquet'")
        problems = []
        for q, got in results.items():
            want = con.sql(oracles[q]).df()
            if plant_defect:
                want = want.iloc[1:]
            problems += [f"{q}: {p}" for p in compare(q, got, want)]
        con.close()
        return problems

    def end_to_end(self, p: dict) -> tuple[dict, dict]:
        return {"wall_s": p["wall_s"]}, {"per_query_s": p["per_query"]}

    def per_layer(self, bench, traced: dict, log_span: tuple[int, int]) -> tuple[dict, dict]:
        """Layer metrics of the traced pass ``traced``; call after the
        session is stopped so the event log is complete."""
        ev = read_event_log(bench.eventlog_dir)
        spans = {s["name"]: s for s in bench.spans.items}
        job_iv: dict[str, list[tuple[float, float]]] = {}
        for group, start, end in ev["jobs"].values():
            job_iv.setdefault(group, []).append((start, end))
        layer = dict.fromkeys(
            ["queries.build_s", "queries.build_jobs", "queries.build_gap_s",
             "queries.execute_s", "queries.execute_jobs"], 0.0)
        per_query, groups = {}, []
        for q in traced["per_query"]:
            row, qgroups = {}, [f"{traced['prefix']}|{q}|{ph}" for ph in ("build", "execute")]
            for ph, g in zip(("build", "execute"), qgroups):
                row[f"{ph}_s"], row[f"{ph}_jobs"] = spans[g]["seconds"], spans[g].get("jobs", 0)
                layer[f"queries.{ph}_s"] += row[f"{ph}_s"]
                layer[f"queries.{ph}_jobs"] += row[f"{ph}_jobs"]
            b = spans[qgroups[0]]
            row["build_gap_s"] = b["seconds"] - covered_seconds(
                job_iv.get(qgroups[0], []), b["start"], b["end"]
            )
            layer["queries.build_gap_s"] += row["build_gap_s"]
            row.update(spark_layer([ev["groups"].get(g, {}) for g in qgroups]))
            per_query[q] = row
            groups += qgroups
        layer.update(spark_layer([ev["groups"].get(g, {}) for g in groups]))
        layer["spark.codegen_fallbacks"] = bench.codegen_fallbacks(*log_span)
        batches = [
            b for b in bench.stream_progress
            if traced["start"] <= b["time"] <= traced["end"] + 5
        ]
        layer["streaming.batches"] = len(batches)
        layer["streaming.batch_ms_p50"] = median([b["duration_ms"] for b in batches])
        layer["streaming.state_rows"] = max([b["state_rows"] for b in batches], default=0)
        return layer, {"per_query": per_query}
