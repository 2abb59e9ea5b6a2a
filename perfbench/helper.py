"""The benchmark's own heavy work, in a child process: generating the
inputs, the DuckDB oracles, the DuckDB replica of a tick, and the output
checks.  Keeping it out of the engine's process means the driver's peak
memory and CPU are the engine's, not the benchmark's.

``Helper.call(name, *args)`` runs the method ``name`` of ``Server`` in
the child and returns its result.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import time

import numpy as np

import checks
import datagen
import workloads as w


class Helper:
    def __init__(self):
        ctx = mp.get_context("spawn")
        self._conn, child = ctx.Pipe()
        self.proc = ctx.Process(target=_serve, args=(child,), daemon=True)
        self.proc.start()
        child.close()

    @property
    def pid(self) -> int:
        return self.proc.pid

    def call(self, name: str, *args):
        self._conn.send((name, args))
        ok, value = self._conn.recv()
        if not ok:
            raise RuntimeError(f"helper {name}: {value}")
        return value

    def close(self) -> None:
        if self.proc.is_alive():
            try:
                self._conn.send(None)
            except OSError:
                pass
            self.proc.join(60)
        if self.proc.is_alive():
            self.proc.kill()
            self.proc.join()
        self._conn.close()


def _serve(conn) -> None:
    server = Server()
    try:
        while True:
            msg = conn.recv()
            if msg is None:
                break
            name, args = msg
            try:
                conn.send((True, getattr(server, name)(*args)))
            except Exception as e:  # noqa: BLE001 — reported to the caller
                conn.send((False, f"{type(e).__name__}: {e}"[:500]))
    finally:
        server.duck.close()


class Server:
    """The helper's side: one DuckDB connection and the work done with it."""

    def __init__(self):
        import duckdb

        self.duck = duckdb.connect()

    # ---- query workloads ------------------------------------------------

    def prepare_queries(self, seed: int, sf: float, names: tuple[str, ...] | None,
                        sf_dir: str) -> dict[str, int]:
        """Generate the tables ``names`` (None: all) into ``sf_dir`` and
        expose them to the oracles; returns row counts by absolute file
        path."""
        tables = datagen.generate(seed, sf, names or datagen.TABLES)
        file_rows = datagen.write_catalog(tables, sf_dir)
        for t in tables:
            self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        return file_rows

    def time_oracle(self, sql: str, repeat: int = 3) -> float:
        """Median seconds of ``repeat`` runs of the oracle."""
        times = []
        for _ in range(repeat):
            t0 = time.perf_counter()
            self.duck.sql(sql).arrow()
            times.append(time.perf_counter() - t0)
        return sorted(times)[len(times) // 2]

    def check_query(self, sql: str, spark_result) -> str | None:
        return checks.compare(spark_result, self.duck.sql(sql).arrow())

    # ---- incremental tick -----------------------------------------------

    def prepare_tick(self, seed: int, sf: float, sf_dir: str,
                     slice_dir: str) -> dict[str, list[str]]:
        """Write the full tick tables into ``sf_dir`` (for the first touch)
        and each table's seeded arrival slices into ``slice_dir``; returns
        the slice files by table, in arrival order."""
        tables = datagen.generate(seed, sf, tuple(t.name for t in w.TICK_TABLES))
        datagen.write_catalog(tables, sf_dir)
        rng = np.random.default_rng([seed, 1])
        out = {}
        for t in w.TICK_TABLES:
            slices = datagen.arrival_slices(tables[t.name], t.column, rng, w.INITIAL_SHARE,
                                            w.ARRIVALS, w.REDELIVERY_SHARE)
            out[t.name] = []
            for i, s in enumerate(slices):
                path = os.path.join(slice_dir, t.name, f"part-{i:05d}.parquet")
                datagen.write_table(s, path)
                out[t.name].append(path)
        return out

    def duck_tick(self, root: str, state: dict) -> tuple[float, dict]:
        """The same tick in DuckDB: read the window ``column >= watermark``,
        drop keys the destination already holds, append, advance the
        watermark.  Returns the seconds it took and the new watermarks."""
        state = dict(state)
        t0 = time.perf_counter()
        for t in w.TICK_TABLES:
            src = f"read_parquet({self._source_files(root, t)!r})"
            proj = t.duck_projection or "*"
            dest_dir = os.path.join(root, "duck", t.name)
            os.makedirs(dest_dir, exist_ok=True)
            dest_files = checks.parquet_files(dest_dir)
            wm = state.get(t.name)
            where = "" if wm is None else f"WHERE {t.column} >= {self._duck_lit(wm)}"
            self.duck.execute(f"CREATE OR REPLACE TEMP TABLE pb_window AS SELECT {proj} FROM {src} {where}")
            batch = "SELECT * FROM pb_window"
            if dest_files:
                k = ", ".join(t.keys)
                batch = (f"SELECT * FROM pb_window ANTI JOIN (SELECT {k} FROM "
                         f"read_parquet({dest_files!r}) {where}) USING ({k})")
            self.duck.execute(f"CREATE OR REPLACE TEMP TABLE pb_batch AS {batch}")
            if self.duck.execute("SELECT count(*) FROM pb_batch").fetchone()[0]:
                out = os.path.join(dest_dir, f"part-{len(dest_files):05d}.parquet")
                self.duck.execute(f"COPY pb_batch TO '{out}' (FORMAT parquet)")
            new_wm = self.duck.execute(f"SELECT max({t.column}) FROM pb_window").fetchone()[0]
            if new_wm is not None:
                state[t.name] = new_wm
        return time.perf_counter() - t0, state

    def check_tick(self, root: str) -> str | None:
        """Every destination holds exactly the distinct source keys delivered
        so far, no key twice, and its committed watermark is the maximum
        ``iterate_column`` of the delivered rows."""
        with open(os.path.join(root, "lake", "_state.json")) as f:
            state = json.load(f)
        for t in w.TICK_TABLES:
            if t.dest == "lake":
                dest = checks.parquet_files(os.path.join(root, "lake", f"{t.name}.parquet"))
                wm = state.get(t.name)
            else:
                dest, wm = checks.manifest_head(os.path.join(root, "mfst", f"{t.name}.mfst"))
            err = checks.check_destination(
                self.duck, self._source_files(root, t), dest, list(t.keys), t.column, wm
            )
            if err:
                return f"{t.name}: {err}"
        return None

    def _source_files(self, root: str, t) -> list[str]:
        return checks.parquet_files(os.path.join(root, "src", f"{t.name}.parquet"))

    @staticmethod
    def _duck_lit(v) -> str:
        return f"TIMESTAMP '{v}'" if not isinstance(v, int) else str(v)
