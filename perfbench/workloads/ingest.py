"""arco_ingest: convert seeded NetCDF4/HDF5 files and Zarr v2 stores
into the ARCO parquet store, plus the registry's szip HDF5 ingest query.

One op is one conversion. A round is one op on each path, in a fixed
order, and a run measures a fixed number of whole rounds, so every run
has the same mix:

- ``convert_netcdf``: ``plans.jobs.convert_netcdf`` — driver-side decode;
- ``hdf5_distributed``: ``read_hdf5_long_distributed`` + ``write_parquet``;
- ``zarr_distributed``: ``read_zarr_long_distributed`` + ``write_parquet``;
- ``s_hdf5_szip_ingest``: the registry query that renders a seeded
  ``documents`` table into szip-compressed HDF5 containers and decodes
  them in a Python ``mapInPandas`` kernel, written to the ``noop`` sink.

Each conversion ends with the program's own row-parity check
(``parquet_info``). Outside the timed region the harness reads each
store back and compares every value with the numpy source, and compares
the registry query's result with its DuckDB oracle once per run.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from .. import inputs, oracle
from ..status_store import job_group
from . import Base, Op, concurrently, median, span_s, spans_named

# 140,160 values per file: an op takes one to two seconds on a 4-core
# host, most of it fixed per-job cost on the distributed paths and
# driver-side decode on convert_netcdf.
GRID = {"n_days": 365, "n_lat": 16, "n_lon": 24}
CHUNKS = (73, 8, 12)
FILES = 2                      # distinct seeded grids per container
QUERY = "s_hdf5_szip_ingest"
PATHS = ("convert_netcdf", "hdf5_distributed", "zarr_distributed", QUERY)
N_DOCS = 200
# A run measures round(seconds / ROUND_S) whole rounds (at least one): a
# fixed amount of work, so a slow host does not change the mix measured.
# One round takes about this long on a 4-core host (ten runs of two
# rounds: 0.66-0.74 ops per second of op time).
ROUND_S = 6.0


def _modules():
    from climate_data_pipeline_spark.plans import jobs
    from climate_data_pipeline_spark.sources import hdf5, io, zarr2
    return jobs, hdf5, io, zarr2


class Workload(Base):
    def __init__(self, ctx):
        self.ctx = ctx
        self.files: list[tuple[inputs.Grid, str, str]] = []
        self.sf_dir = None
        self._n = 0
        self._checked = False

    @staticmethod
    def _write(d: str, seed: int) -> tuple:
        grid = inputs.make_grid(seed, **GRID)
        h5 = inputs.write_grid_hdf5(os.path.join(d, f"{seed}.nc"), grid, CHUNKS)
        z = inputs.write_grid_zarr(os.path.join(d, f"{seed}.zarr"), grid, CHUNKS)
        return grid, h5, z

    def generate(self, rep: int) -> None:
        d = self.ctx.workdir.sub(f"inputs{rep}")
        self.files = [self._write(d, self.ctx.seed * 100 + k)
                      for k in range(FILES)]
        inputs.make_documents(self.ctx.seed, N_DOCS).to_parquet(
            os.path.join(d, "documents.parquet"), index=False)
        self.sf_dir = d

    def warm_up(self) -> None:
        """One round on the real inputs, its ops run concurrently. The
        first timed round still runs a little slower than the second (JIT
        not done); two warm-up rounds cost 5 s more and did not remove it."""
        concurrently(self.ctx, [
            lambda k=k, p=p: self._op(p, self.files[k % len(self.files)],
                                      self.sf_dir, f"warm-{p}")
            for k, p in enumerate(PATHS)])

    def _convert(self, path: str, h5: str, zarr: str, sf_dir: str, out: str,
                 tracer):
        jobs, hdf5, io, zarr2 = _modules()
        spark = self.ctx.spark
        if path == QUERY:
            from climate_data_pipeline_spark import registry
            if tracer is None:
                df = registry.queries()[QUERY](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                return None
            with tracer.span(f"queries.{QUERY}", "queries"):
                df = registry.queries()[QUERY](spark, sf_dir)
            with tracer.span(f"operators.{QUERY}", "operators"):
                df.write.format("noop").mode("overwrite").save()
            return None
        if path == "convert_netcdf":
            result = jobs.convert_netcdf(spark, h5, out)
            if result["status"] != "completed":
                raise RuntimeError(f"convert_netcdf: {result['status']}")
            return result["output_info"]
        reader = (hdf5.read_hdf5_long_distributed if path == "hdf5_distributed"
                  else zarr2.read_zarr_long_distributed)
        df = reader(spark, h5 if path == "hdf5_distributed" else zarr)
        io.write_parquet(df, out, layout="timeseries",
                         entity_cols=["lat", "lon"], time_col="time")
        return io.parquet_info(spark, out)

    def _op(self, path: str, files: tuple, sf_dir: str, op_id: str,
            tracer=None) -> Op:
        grid, h5, zarr = files
        out = os.path.join(self.ctx.workdir.sub("out"), op_id)
        op = Op(op_id, path, 0.0)
        t0 = time.perf_counter()
        try:
            with job_group(self.ctx.spark.sparkContext, op_id):
                if tracer is None:
                    info = self._convert(path, h5, zarr, sf_dir, out, None)
                else:
                    with tracer.op(op_id), tracer.span(f"op.{path}", "bench"):
                        info = self._convert(path, h5, zarr, sf_dir, out, tracer)
            op.latency_s = time.perf_counter() - t0
            if info is not None:
                if info["num_rows"] != grid.n_values:
                    op.fail(f"row parity {info['num_rows']} != "
                            f"{grid.n_values}", wrong=True)
                op.info.update(bytes=info["bytes_stored"], values=grid.n_values)
                self._verify(op, grid, out)
        except Exception as exc:               # counted, run continues
            op.latency_s = op.latency_s or time.perf_counter() - t0
            op.fail(f"{path}: {type(exc).__name__}: {exc}")
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return op

    @staticmethod
    def _verify(op: Op, grid: inputs.Grid, out: str) -> None:
        """Every value against the numpy source, plus its checksum."""
        got = inputs.read_store_sorted(out)
        want = grid.values.ravel()
        n_t, n_y, n_x = grid.values.shape
        coords_ok = (
            len(got) == want.size
            and np.array_equal(got["time"].to_numpy(), np.repeat(
                grid.times.astype("int64"), n_y * n_x))
            and np.array_equal(got["lat"].to_numpy(),
                               np.tile(np.repeat(grid.lat, n_x), n_t))
            and np.array_equal(got["lon"].to_numpy(), np.tile(grid.lon, n_t * n_y)))
        values = got[inputs.VAR].to_numpy() if coords_ok else None
        if not coords_ok or not np.array_equal(values, want):
            op.fail("stored grid differs from the source", wrong=True)
            return
        op.info["checksum"] = float(values.astype(np.float64).sum())

    def measure(self, seconds: float, tracer=None) -> list[Op]:
        ops: list[Op] = []
        for _ in range(max(1, round(seconds / ROUND_S))):
            for path in PATHS:
                files = self.files[self._n // len(PATHS) % len(self.files)]
                ops.append(self._op(path, files, self.sf_dir,
                                    f"ingest-{self._n}", tracer))
                self._n += 1
        if not self._checked:
            self._checked = True
            try:
                why = oracle.mismatch(self.ctx.spark, QUERY, self.sf_dir,
                                      ["documents"])
            except Exception as exc:               # no output to compare
                why = f"{type(exc).__name__}: {exc}"
            if why is not None:
                for op in ops:
                    if op.kind == QUERY:
                        op.fail(f"{QUERY}: {why}", wrong=True)
        return ops

    def trace(self, tracer) -> None:
        jobs, hdf5, io, zarr2 = _modules()
        tracer.wrap(jobs, "convert_netcdf", "plans", "plans.convert_netcdf")
        tracer.wrap(hdf5, "read_hdf5_long_distributed", "sources",
                    "sources.read_hdf5_long_distributed")
        tracer.wrap(zarr2, "read_zarr_long_distributed", "sources",
                    "sources.read_zarr_long_distributed")
        # convert_netcdf calls the writer and the row count through the
        # names plans.jobs imported, so those are wrapped too
        for owner in (io, jobs):
            tracer.wrap(owner, "write_parquet", "sources", "io.write_parquet")
            tracer.wrap(owner, "parquet_info", "sources", "io.parquet_info")

    def layer_metrics(self, ops: list[Op], tracer) -> dict[str, float]:
        reads = (spans_named(tracer, "sources.read_hdf5_long_distributed")
                 + spans_named(tracer, "sources.read_zarr_long_distributed"))
        stored = [op for op in ops if op.ok and "bytes" in op.info]
        return {
            "sources.read_s": median(span_s(reads)),
            "plans.convert_s": median(span_s(
                spans_named(tracer, "plans.convert_netcdf"))),
            "io.write_s": median(span_s(spans_named(tracer, "io.write_parquet"))),
            "io.verify_s": median(span_s(spans_named(tracer, "io.parquet_info"))),
            "io.bytes_written": median([op.info["bytes"] for op in stored]),
            "io.bytes_per_value": bytes_per_value(stored),
            "queries.build_s": median(span_s(
                spans_named(tracer, f"queries.{QUERY}"))),
            f"query.{QUERY}_s": median([op.latency_s for op in ops
                                        if op.kind == QUERY]),
        }


def bytes_per_value(ops: list[Op]) -> float:
    values = sum(op.info["values"] for op in ops)
    return sum(op.info["bytes"] for op in ops) / values if values else 0.0


def summary(ops: list[Op]) -> dict[str, float]:
    """The ingest figures named in the benchmark's README."""
    stored = [op for op in ops if "values" in op.info]
    good = [op for op in stored if op.ok]
    return {
        "ingest_values_per_s": (sum(op.info["values"] for op in good)
                                / sum(op.latency_s for op in stored)),
        "ingest_op_p50_s": median([op.latency_s for op in stored]),
        "ingest_bytes_per_value": bytes_per_value(good),
    }
