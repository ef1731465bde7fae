"""The product path: reference-layout workbooks into a live PostgreSQL.

Set-up boots a throwaway cluster, writes the seeded workbooks, starts
the session and warms the code paths with one untimed load of the same
workbooks (the one-off JIT, codegen and Python-worker start-up cost
would otherwise land on the first cycle; after a warm-up on a smaller
workbook set, the first timed load still ran 15-20% slower than the
second). The timed section runs at least ``MIN_CYCLES`` cycles, more
while ``--seconds`` last; each creates a fresh schema and runs two
operations:

* **load**: read the workbooks through the ``xlsx`` data source with
  an inferred schema, ``transform`` (checkpointed eagerly), then
  ``build_outputs`` with surrogate ids, and load the four tables in FK
  order: planos and clientes through the keyed upsert, contratos and
  contatos through COPY;
* **reload**: read the same workbooks again and re-run the keyed
  loads (planos, clientes and contatos on their unique keys) into the
  populated tables. Contratos has no natural key and is not reloaded.

After each operation, untimed, the table counts are checked against
the counts the generator derived from its own rows, and the reload
must insert no row. A mismatch fails that operation. The load and
reload times are medians over the cycles.
"""

from __future__ import annotations

import math
import os
import statistics
import time

from . import workbook
from .harness import TIMED_CPUS, Run
from .pg import Cluster

N_ROWS = 4_000
# one workbook (read task) and one sink partition (Postgres connection)
# per core the timed section runs on
N_FILES = N_PARTITIONS = TIMED_CPUS
MIN_CYCLES = 1
_SINKS = {"tbl_planos": "planos", "tbl_clientes": "clientes",
          "tbl_cliente_contratos": "contratos", "tbl_cliente_contatos": "contatos"}
# (table, conflict keys or "copy") in FK order
_STEPS = {
    "load": (("tbl_planos", ["descricao"]), ("tbl_clientes", ["cpf_cnpj"]),
             ("tbl_cliente_contratos", "copy"), ("tbl_cliente_contatos", "copy")),
    "reload": (("tbl_planos", ["descricao"]), ("tbl_clientes", ["cpf_cnpj"]),
               ("tbl_cliente_contatos", ["cliente_id", "tipo_contato_id", "contato"])),
}


class EtlWorkload:
    def __init__(self, run: Run) -> None:
        self.run = run
        self.cluster = Cluster(os.path.join(run.work, "pg"))
        self.wb_dir = os.path.join(run.work, "workbooks")
        self.failed: dict[str, str] = {}
        self.attempted = 0
        self.cycles: list[dict] = []
        self.expected: dict[str, int] = {}
        self.rows = 0

    # -- set-up ---------------------------------------------------------
    def setup(self) -> None:
        from etl_xlsx_potgres_spark.sources.xlsx_datasource import register_xlsx_source

        run = self.run
        with run.step("postgres"):
            self.cluster.start()
        with run.step("workbooks"):
            rows = workbook.generate(run.seed, N_ROWS)
            self.rows = len(rows)
            workbook.write_workbooks(self.wb_dir, rows, N_FILES)
        spark = run.start_session()
        register_xlsx_source(spark)
        self.expected = workbook.expected_counts(rows)
        with run.step("warm_up"):
            self.cluster.create_schema("warm")
            self._attempt("warm-load", "load", "warm", self.wb_dir, self.expected)

    # -- operations -----------------------------------------------------
    def _outputs(self, op: str, path: str):
        from etl_xlsx_potgres_spark.operators.ids import surrogate_ids
        from etl_xlsx_potgres_spark.pipelines.etl_xlsx_postgres import (
            build_outputs,
            transform,
        )

        run = self.run
        with run.phase(f"{op}/read", "xlsx_load", "sources"):
            raw = run.spark.read.format("xlsx").load(path)
        with run.phase(f"{op}/transform", "transform", "pipelines"):
            cleaned = transform(raw).localCheckpoint(eager=True)
        with run.phase(f"{op}/outputs", "build_outputs", "pipelines"):
            outs = build_outputs(cleaned)
            plano_ids = surrogate_ids(outs["planos"].select("descricao"), ["descricao"], "id")
            cliente_ids = surrogate_ids(outs["clientes"].select("cpf_cnpj"), ["cpf_cnpj"], "id")
            frames = {
                "tbl_planos": outs["planos"].join(plano_ids, "descricao"),
                "tbl_clientes": outs["clientes"].join(cliente_ids, "cpf_cnpj"),
                "tbl_cliente_contratos": outs["contratos"],
                "tbl_cliente_contatos": outs["contatos"].selectExpr(
                    "cliente_id", "tipo_id AS tipo_contato_id", "contato").dropDuplicates(),
            }
        return frames

    def _sink(self, op: str, schema: str, table: str, df, keys) -> dict:
        """One ``foreach_partition_*`` call; returns the server counters
        it moved when tracing (read before and after the call)."""
        from etl_xlsx_potgres_spark.sinks import pgwire
        from etl_xlsx_potgres_spark.sinks.jdbc import (
            JdbcTarget,
            foreach_partition_copy,
            foreach_partition_upsert,
        )

        run = self.run
        target = JdbcTarget(url="jdbc:" + self.cluster.dsn(), table=f"{schema}.{table}")
        df = df.repartition(N_PARTITIONS)
        before = self.cluster.stats() if run.traced else None
        name = _SINKS[table]
        with run.phase(f"{op}/{name}", name, "sinks", table=table):
            t0 = time.perf_counter()
            if keys == "copy":
                foreach_partition_copy(df, target, connect=pgwire.connect)
            else:
                foreach_partition_upsert(df, target, keys, connect=pgwire.connect)
            elapsed = time.perf_counter() - t0
        delta = {"s": elapsed}
        if before is not None:
            after = self.cluster.stats()
            delta.update({k: after[k] - before[k] for k in before})
        return delta

    def _operation(self, op: str, kind: str, schema: str, path: str, expected: dict) -> dict:
        """One load or reload into ``schema``, timed; then, untimed, the
        table counts and (reload) the rows the server inserted."""
        rec = {"op": op, "kind": kind, "sinks": {}}
        before = self.cluster.stats()
        t0 = time.perf_counter()
        with self.run.tracer.span(op, "bench"):
            frames = self._outputs(op, path)
            for table, keys in _STEPS[kind]:
                rec["sinks"][table] = self._sink(op, schema, table, frames[table], keys)
        rec["total_s"] = time.perf_counter() - t0
        rec["rows_inserted"] = self.cluster.stats()["rows_inserted"] - before["rows_inserted"]
        got = rec["counts"] = self.cluster.counts(schema)
        if got != expected:
            rec["error"] = f"table counts {got} != expected {expected}"
        elif kind == "reload" and rec["rows_inserted"] != 0:
            rec["error"] = f"reload inserted {rec['rows_inserted']:.0f} rows"
        return rec

    def _attempt(self, op: str, kind: str, schema: str, path: str, expected: dict) -> dict:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            rec = self._operation(op, kind, schema, path, expected)
        except Exception as exc:  # noqa: BLE001 - a failed load is a result
            rec = {"op": op, "kind": kind, "error": f"{type(exc).__name__}: {exc}"[:300],
                   "total_s": time.perf_counter() - t0, "sinks": {}, "counts": {}}
        if "error" in rec:
            self.failed[rec["op"]] = rec["error"]
        return rec

    # -- timed section --------------------------------------------------
    def timed(self, seconds: float) -> None:
        start = time.perf_counter()
        k = 0
        while len(self.cycles) < MIN_CYCLES or time.perf_counter() - start < seconds:
            schema = f"c{k}"
            self.cluster.create_schema(schema)
            self.cycles.append({
                kind: self._attempt(f"{kind}{k}", kind, schema, self.wb_dir, self.expected)
                for kind in ("load", "reload")})
            k += 1

    # -- results --------------------------------------------------------
    @property
    def passes_done(self) -> int:
        return len(self.cycles)

    def end_to_end(self) -> dict[str, float]:
        loads = [c["load"]["total_s"] for c in self.cycles]
        reloads = [c["reload"]["total_s"] for c in self.cycles]
        return {
            "pass_s": statistics.median(a + b for a, b in zip(loads, reloads)),
            "phase1_s": statistics.median(loads),
            "phase2_s": statistics.median(reloads),
            "op_geomean_s": statistics.median(math.sqrt(a * b) for a, b in zip(loads, reloads)),
        }

    def per_layer(self) -> dict[str, float]:
        n = len(self.cycles)
        loads = [c["load"] for c in self.cycles]
        reloads = [c["reload"] for c in self.cycles]

        def sink_sum(recs, key: str, tables=tuple(_SINKS)) -> float:
            return sum(r["sinks"].get(t, {}).get(key, 0.0) for r in recs for t in tables) / n

        load_rows = sink_sum(loads, "rows_inserted")
        out = {
            "sources.xlsx_files": float(N_FILES),
            "sources.xlsx_rows": float(self.rows),
            # customers loaded per workbook row read
            "pipelines.kept_ratio": statistics.median(
                r["counts"].get("tbl_clientes", 0) for r in loads) / self.rows,
            "sinks.reload_s": sink_sum(reloads, "s"),
            "pg.statements": sink_sum(loads + reloads, "statements"),
            "pg.statements_per_row": sink_sum(loads, "statements") / max(load_rows, 1.0),
            "pg.exec_s": sink_sum(loads + reloads, "exec_ms") / 1e3,
            "pg.commits": sink_sum(loads + reloads, "commits"),
            "pg.sessions": sink_sum(loads + reloads, "sessions"),
            "pg.rows_inserted": load_rows,
            "pg.reload_rows_inserted": statistics.fmean(r.get("rows_inserted", 0.0) for r in reloads),
            "pg.wal_mb": sink_sum(loads + reloads, "wal_bytes") / 2**20,
        }
        for table, name in _SINKS.items():
            out[f"sinks.{name}_s"] = sink_sum(loads, "s", (table,))
        return out

    def operations(self) -> list[dict]:
        return [c[k] for c in self.cycles for k in ("load", "reload")]

    def excluded_pids(self) -> set[int]:
        """The Postgres server, left out of the benchmark's memory."""
        pid = self.cluster.server_pid()
        return {pid} if pid else set()

    def close(self) -> None:
        self.cluster.stop()
