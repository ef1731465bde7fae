"""The query-mix workload: registry queries in a closed loop.

One caller runs one query at a time. A query is four calls, each
timed: build (the ``registry.QUERIES`` function), plan (forcing the
physical plan), action (the ``noop`` write) and release
(``caching.release_persisted`` plus ``clearCache``).

Set-up ends with an untimed pass, the output check: each query's rows
are collected and compared with its DuckDB oracle (row count plus
order-insensitive value hash, ``tools/strict_check``). A mismatch, an
empty result on both sides or an exception fails that query. The pass
also warms the session. The timed passes follow, in an order drawn
from the seed: at least ``MIN_PASSES``, more while ``--seconds`` last.
Each query's time is its median over the passes, and a pass's figures
add up those medians, so a host stall during one pass moves no
query's figure.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time

from . import tables
from .harness import Run

SCALE = 0.01
MIN_PASSES = 2

# phase 1, action-bound: build is small and the time goes to executing
# the plan, in scans, shuffles and aggregations (q1, q9) or across the
# Python/Arrow boundary (Arrow UDF, pandas UDF)
ACTION_QUERIES = ("q1_pricing_summary", "q9_product_profit",
                  "text_tokcount_arrow", "pandas_udf_risk_score")
# phase 2, build-bound: the driver iterates, with eager checkpoints and
# scoped persists, before the action
BUILD_QUERIES = ("emb_kmeans_iterations", "text_bpe_merge_rounds")
QUERIES = ACTION_QUERIES + BUILD_QUERIES
PHASES = ("build", "plan", "action", "release")


class MixWorkload:
    def __init__(self, run: Run) -> None:
        self.run = run
        self.names = list(QUERIES)
        random.Random(run.seed).shuffle(self.names)
        self.data_dir = os.path.join(run.work, "tables")
        self.failed: dict[str, str] = {}
        self.attempted = 0
        self.passes: list[list[dict]] = []

    # -- set-up ---------------------------------------------------------
    def setup(self) -> None:
        from etl_xlsx_potgres_spark import registry

        with self.run.step("tables"):
            tables.write(self.data_dir, SCALE)
            registry.load_all()
        self.run.start_session()
        with self.run.step("check_pass"):
            self._check_pass()

    def _check_pass(self) -> None:
        import duckdb

        from etl_xlsx_potgres_spark import caching, registry
        from tools.strict_check import compare

        spark = self.run.spark
        con = duckdb.connect()
        for t in tables.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(self.data_dir, t)}.parquet'")
        # collect as the oracle gate does: plain (non-Arrow) toPandas
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
        try:
            for name in self.names:
                self.attempted += 1
                spark.sparkContext.setJobGroup(f"check/{name}", name)
                try:
                    got = registry.QUERIES[name](spark, self.data_dir).toPandas()
                    want = con.sql(registry.ORACLES[name]).fetchdf()
                    res = compare(got, want)
                    if not res["hash_match"] or res["vacuous"]:
                        self.failed[name] = f"oracle mismatch: {res['detail'] or 'empty result'}"
                except Exception as exc:  # noqa: BLE001 - a failed query is a result
                    self.failed[name] = f"{type(exc).__name__}: {exc}"[:300]
                finally:
                    caching.release_persisted()
                    spark.catalog.clearCache()
        finally:
            spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
            con.close()

    # -- timed section --------------------------------------------------
    def timed(self, seconds: float) -> None:
        start = time.perf_counter()
        k = 0
        while len(self.passes) < MIN_PASSES or time.perf_counter() - start < seconds:
            self.passes.append([self._query(k, name) for name in self.names])
            k += 1

    def _query(self, k: int | str, name: str) -> dict:
        from etl_xlsx_potgres_spark import caching, registry

        run, spark = self.run, self.run.spark
        rec = {"name": name, "pass": k}
        self.attempted += 1
        op = f"p{k}/{name}"
        t0 = time.perf_counter()
        with run.tracer.span(name, "bench", op=op):
            try:
                with run.phase(f"{op}/build", "build", "plans"):
                    df = registry.QUERIES[name](spark, self.data_dir)
                t1 = time.perf_counter()
                with run.phase(f"{op}/plan", "plan", "plans"):
                    df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                with run.phase(f"{op}/action", "action", "plans"):
                    df.write.format("noop").mode("overwrite").save()
                t3 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 - a failed query is a result
                self.failed[f"{name}#{k}"] = f"{type(exc).__name__}: {exc}"[:300]
                t1 = t2 = t3 = time.perf_counter()
            rec["persisted"] = caching.live_count()
            with run.phase(f"{op}/release", "release", "caching"):
                caching.release_persisted()
                spark.catalog.clearCache()
            t4 = time.perf_counter()
        rec.update(build_s=t1 - t0, plan_s=t2 - t1, action_s=t3 - t2, release_s=t4 - t3,
                   total_s=t4 - t0)
        if run.traced:
            rec["build_jobs"], _ = run.job_counts(f"{op}/build")
            jobs, stages = zip(*(run.job_counts(f"{op}/{p}") for p in PHASES))
            rec["jobs"], rec["stages"] = sum(jobs), sum(stages)
        return rec

    # -- results --------------------------------------------------------
    @property
    def passes_done(self) -> int:
        return len(self.passes)

    def end_to_end(self) -> dict[str, float]:
        med = {name: statistics.median(r["total_s"] for p in self.passes for r in p
                                       if r["name"] == name)
               for name in QUERIES}
        return {
            "pass_s": sum(med.values()),
            "phase1_s": sum(med[n] for n in ACTION_QUERIES),
            "phase2_s": sum(med[n] for n in BUILD_QUERIES),
            "op_geomean_s": math.exp(statistics.fmean(math.log(t) for t in med.values())),
        }

    def per_layer(self) -> dict[str, float]:
        n = len(self.passes)
        recs = [r for p in self.passes for r in p]

        def per_pass(key: str) -> float:
            return sum(r.get(key, 0) for r in recs) / n

        return {
            "plans.build_s": per_pass("build_s"),
            "plans.build_jobs": per_pass("build_jobs"),
            "plans.plan_s": per_pass("plan_s"),
            "plans.action_s": per_pass("action_s"),
            "plans.jobs": per_pass("jobs"),
            "plans.stages": per_pass("stages"),
            "caching.persisted": per_pass("persisted"),
            "caching.release_s": per_pass("release_s"),
        }

    def operations(self) -> list[dict]:
        return [r for p in self.passes for r in p]

    def excluded_pids(self) -> set[int]:
        return set()

    def close(self) -> None:
        pass
