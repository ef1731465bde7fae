"""Throwaway PostgreSQL cluster for one benchmark run.

``Cluster`` runs ``initdb`` and the server as the ``postgres`` system
user when the benchmark runs as root (the server refuses to run as
root). The cluster directory lives inside the benchmark's work
directory, which may sit below a directory only root may enter, so
the server processes get ``CAP_DAC_READ_SEARCH`` through ``setpriv``:
enough to reach their own directory, nothing more. The server listens
on loopback only, on a free port, with ``pg_stat_statements`` loaded.
The postmaster is started as a child process; ``stop`` shuts it down
with ``pg_ctl stop``, reaps it and deletes the directory, so a failed run leaves no postmaster behind.
"""

from __future__ import annotations

import os
import shutil
import socket
import subprocess
import time

DB = "bench"
USER = "spark"

# Counters over the bench database only; the monitor connection sits
# in the ``postgres`` database, so its own statements never count.
_STATS_SQL = f"""
WITH s AS (
  SELECT s.* FROM pg_stat_statements s JOIN pg_database d ON d.oid = s.dbid
   WHERE d.datname = '{DB}')
SELECT
  (SELECT coalesce(sum(calls), 0) FROM s),
  (SELECT coalesce(sum(total_exec_time), 0) FROM s),
  (SELECT coalesce(sum(rows), 0) FROM s
    WHERE query ILIKE 'insert%' OR query ILIKE 'copy%'),
  (SELECT xact_commit FROM pg_stat_database WHERE datname = '{DB}'),
  (SELECT sessions FROM pg_stat_database WHERE datname = '{DB}'),
  (SELECT wal_bytes FROM pg_stat_wal),
  (SELECT count(*) FROM pg_stat_activity WHERE datname = '{DB}')
"""
STAT_KEYS = ("statements", "exec_ms", "rows_inserted", "commits", "sessions", "wal_bytes")


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Cluster:
    def __init__(self, base_dir: str) -> None:
        self.base = os.path.abspath(base_dir)
        self.data = os.path.join(self.base, "data")
        self.port = _free_port()
        self._as_root = os.geteuid() == 0
        self._server: subprocess.Popen | None = None
        self._monitor = None

    def _as_postgres(self, args: list[str]) -> list[str]:
        if not self._as_root:
            return args
        return [
            "setpriv", "--reuid=postgres", "--regid=postgres", "--clear-groups",
            "--inh-caps=+dac_read_search", "--ambient-caps=+dac_read_search",
        ] + args

    def start(self) -> "Cluster":
        os.makedirs(self.data)
        if self._as_root:
            shutil.chown(self.base, user="postgres")
            shutil.chown(self.data, user="postgres")
        subprocess.run(
            self._as_postgres(["initdb", "-D", self.data, "-U", USER, "--auth=trust",
                               "-E", "UTF8", "--no-sync"]),
            check=True, capture_output=True, cwd=self.base, timeout=120)
        # the postmaster is this process's child, so stop() can reap it
        with open(os.path.join(self.base, "server.log"), "ab") as log:
            self._server = subprocess.Popen(
                self._as_postgres([
                    "postgres", "-D", self.data, "-p", str(self.port),
                    "-c", "listen_addresses=127.0.0.1",
                    "-c", "unix_socket_directories=",
                    "-c", "shared_preload_libraries=pg_stat_statements",
                    "-c", "pg_stat_statements.max=10000",
                    "-c", "max_connections=40",
                ]),
                stdout=log, stderr=subprocess.STDOUT, cwd=self.base)
        deadline = time.monotonic() + 60
        while True:
            try:
                subprocess.run(["createdb", "-h", "127.0.0.1", "-p", str(self.port),
                                "-U", USER, DB], check=True, capture_output=True,
                               timeout=60)
                break
            except subprocess.CalledProcessError:
                if self._server.poll() is not None or time.monotonic() > deadline:
                    raise
                time.sleep(0.1)
        self._monitor = self.connect("postgres")
        with self._monitor.cursor() as cur:
            cur.execute("CREATE EXTENSION pg_stat_statements")
        self._monitor.commit()
        return self

    def server_pid(self) -> int | None:
        return self._server.pid if self._server is not None else None

    def dsn(self, db: str = DB) -> str:
        return f"postgresql://{USER}@127.0.0.1:{self.port}/{db}"

    def connect(self, db: str = DB):
        from etl_xlsx_potgres_spark.sinks import pgwire

        return pgwire.connect(self.dsn(db))

    def execute(self, statements: list[str]) -> None:
        conn = self.connect()
        try:
            with conn.cursor() as cur:
                for sql in statements:
                    cur.execute(sql)
            conn.commit()
        finally:
            conn.close()

    def fetch(self, sql: str) -> list[tuple]:
        conn = self.connect()
        try:
            with conn.cursor() as cur:
                cur.execute(sql)
                rows = cur.fetchall()
            conn.commit()
            return rows
        finally:
            conn.close()

    def create_schema(self, schema: str) -> None:
        """The reference schema's keys and FKs, as the live-Postgres test
        creates them, in a schema of the caller's choosing."""
        from tests.test_live_postgres import REFPIPE_DDL

        self.execute([ddl.replace("refpipe", schema) for ddl in REFPIPE_DDL])

    def counts(self, schema: str) -> dict[str, int]:
        tables = ("tbl_planos", "tbl_clientes", "tbl_cliente_contratos",
                  "tbl_cliente_contatos")
        row = self.fetch("SELECT " + ", ".join(
            f"(SELECT count(*) FROM {schema}.{t})" for t in tables))[0]
        return {t: int(v) for t, v in zip(tables, row)}

    def stats(self) -> dict[str, float]:
        """Cumulative server counters (see ``STAT_KEYS``), read once no
        session is left in the bench database: a backend publishes its
        counters when it exits, so waiting makes the read complete."""
        for _ in range(100):
            with self._monitor.cursor() as cur:
                cur.execute(_STATS_SQL)
                row = cur.fetchall()[0]
            self._monitor.commit()
            if int(row[-1]) == 0:
                break
            time.sleep(0.02)
        return {k: float(v or 0) for k, v in zip(STAT_KEYS, row)}

    def stop(self) -> None:
        if self._monitor is not None:
            try:
                self._monitor.close()
            except OSError:
                pass
            self._monitor = None
        if self._server is not None:
            try:
                subprocess.run(
                    self._as_postgres(["pg_ctl", "-D", self.data, "-m", "immediate", "-w", "stop"]),
                    capture_output=True, cwd=self.base, timeout=60)
            except (subprocess.SubprocessError, OSError):
                pass
            if self._server.poll() is None:
                self._server.kill()
            self._server.wait()
            self._server = None
        shutil.rmtree(self.base, ignore_errors=True)
