"""The benchmark's three workloads.

Each workload prepares seeded inputs and lists its operations.  An
operation is a callable that builds a Spark DataFrame through the
package's public surface (running whatever eager jobs the build needs)
and returns it unexecuted, plus a check of its collected result against
a computation made apart from the package: the DuckDB ``oracle_sql()``
twin over the same parquet files, or numpy over the seeded arrays.

Why these operations (the wider label and heavy query sets, 21 and 14
registry queries, take 15-35 s per pass at local[2]; a pass here is kept
to 3-11 s so that the 70 runs of a benchmark check fit its time budget):

- label-ops: build- and per-job-overhead-bound label and position
  operations (eager label-table jobs, literal tables, many small jobs);
- heavy-exec: a grouped exact quantile and pandas-UDF feature pipelines
  at a scale where shuffles, task time and Python crossings carry time;
- grid-io: ``backends`` zarr reads and reductions beside the N-d
  chunk-parallel zarr write, plus the netCDF round trip.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd

import check
import datagen

# warmup: noop passes after the checked pass.  Pass time keeps falling
# for ~10 passes (the JIT compiles Spark's generated classes), longer
# than a run can afford, so the count is fixed and every run times the
# same point of that curve; grid-io's ~11 s pass leaves room for none.
WORKLOADS = {
    "label-ops": {"sf": 0.01, "warmup": 1,
                  "queries": ["q02", "q57", "q143", "q54"]},
    "heavy-exec": {"sf": 0.05, "warmup": 1,
                   "queries": ["q115", "q94", "q36"]},
    "grid-io": {"sf": 0.01, "warmup": 0, "queries": ["q71"],
                "grid": (96, 15, 30), "chunks": (24, 15, 15),
                "nan_share": 0.2},
}


@dataclass
class Op:
    name: str
    build: Callable[[], object]           # -> pyspark DataFrame
    check: Callable[[pd.DataFrame], list[str]]


def _registry(names: list[str]) -> dict[str, Callable]:
    import __spark_entry__ as entry
    reg = entry.queries()
    out = {}
    for short in names:
        full = [k for k in reg if k.split("_", 1)[0] == short]
        if len(full) != 1:
            raise KeyError(f"registry query {short!r} not found")
        out[full[0]] = reg[full[0]]
    return out


def _duckdb(sf_dir: str):
    import duckdb
    con = duckdb.connect()
    for name in os.listdir(sf_dir):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, name)}')")
    return con


def registry_ops(spark, sf_dir: str, queries: list[str]) -> list[Op]:
    import __spark_entry__ as entry
    oracles = entry.oracle_sql()
    con = _duckdb(sf_dir)
    ops = []
    for name, fn in _registry(queries).items():
        sql = oracles[name]
        ops.append(Op(
            name,
            lambda fn=fn: fn(spark, sf_dir),
            lambda got, sql=sql, name=name: check.compare_frames(
                got, con.execute(sql).df(), name)))
    return ops


class Inputs:
    """Seeded inputs of one run, written under ``root``."""

    def __init__(self, root: str, seed: int, workload: str):
        self.cfg = WORKLOADS[workload]
        self.sf_dir = os.path.join(root, "tables")
        self.counts = datagen.write_tables(self.sf_dir, seed, self.cfg["sf"])
        self.grid = None
        if "grid" in self.cfg:
            from xarray_spark.backends import to_zarr
            self.coords, self.temp = datagen.make_grid(
                seed, self.cfg["grid"], self.cfg["nan_share"])
            self.grid = os.path.join(root, "grid.zarr")
            to_zarr({"temperature": (["time", "lat", "lon"], self.temp)},
                    self.grid, dims=self.coords,
                    chunks={"temperature": list(self.cfg["chunks"])})
            self.stores = os.path.join(root, "stores")
            os.makedirs(self.stores)


def grid_ops(spark, inputs: Inputs) -> list[Op]:
    """The grid reductions and the N-d write, checked against numpy."""
    from pyspark.sql import functions as F

    # looked up at call time, so a traced run sees its wrappers
    from xarray_spark import backends

    c, temp = inputs.coords, inputs.temp
    lat_w = np.cos(np.deg2rad(c["lat"]))[None, :, None] * np.ones_like(temp)
    valid = ~np.isnan(temp)
    chunks = dict(zip(("time", "lat", "lon"), inputs.cfg["chunks"]))
    written = []

    def series(values, col="temperature"):
        return pd.DataFrame({"time": c["time"], col: values})

    def grid_frame(values, coords):
        t, la, lo = np.meshgrid(*coords, indexing="ij")
        return pd.DataFrame({"time": t.ravel(), "lat": la.ravel(),
                             "lon": lo.ravel(), "temperature": values.ravel()})

    def mean_latlon():
        return backends.open_zarr(spark, inputs.grid).mean(["lat", "lon"]).to_spark()

    def weighted_mean():
        ds = backends.open_zarr(spark, inputs.grid)
        return (ds.weighted(F.cos(F.radians(F.col("lat"))))
                .mean(["lat", "lon"]).to_spark().select("time", "temperature"))

    def write_read():
        # a derived grid (Kelvin) written chunk-parallel to a fresh
        # store, then read back chunk-parallel
        store = os.path.join(inputs.stores, f"kelvin_{len(written)}.zarr")
        written.append(store)
        ds = backends.open_zarr(spark, inputs.grid)
        kelvin = ds.assign(temperature=F.col("temperature") + 273.15)
        backends.to_zarr_distributed(kelvin, store, chunks=chunks)
        return backends.open_zarr(spark, store).to_spark()

    expect = {
        "grid_mean_latlon": series(np.nanmean(temp, axis=(1, 2))),
        "grid_weighted_mean": series(
            np.where(valid, temp * lat_w, 0).sum((1, 2))
            / np.where(valid, lat_w, 0).sum((1, 2))),
        "grid_write_read": grid_frame(temp + 273.15,
                                      (c["time"], c["lat"], c["lon"])),
    }
    builds = {"grid_mean_latlon": mean_latlon,
              "grid_weighted_mean": weighted_mean,
              "grid_write_read": write_read}
    return [Op(name, builds[name],
               lambda got, name=name: check.compare_frames(
                   got, expect[name], name))
            for name in builds]


def make_ops(spark, inputs: Inputs) -> list[Op]:
    ops = registry_ops(spark, inputs.sf_dir, inputs.cfg["queries"])
    if inputs.grid:
        ops = grid_ops(spark, inputs) + ops
    return ops
