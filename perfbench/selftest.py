"""Self-test of the benchmark's result checks: a zero failure count only
means something if a wrong result is caught.

    python3 perfbench/selftest.py

Collects real results (two registry queries, checked against their DuckDB
twins, and the grid-io write-and-read-back, checked against numpy), shows
each passes its check, then shows the check fails when:

- one value is moved beyond the tolerance, a row is dropped, a column is
  renamed, or a number is replaced by NaN (each registry result);
- two chunk files of the written zarr store are swapped (grid-io).

Exits 0 only if every unchanged result passes and every altered one fails.
"""

from __future__ import annotations

import os
import sys

import run


def _mutations(df):
    """(label, altered copy) pairs of a collected result."""
    num = [c for c in df.columns if df[c].dtype.kind in "if" and df[c].notna().any()]
    col = num[0]
    row = int(df[col].notna().to_numpy().argmax())
    moved = df.copy()
    moved[col] = moved[col].astype("float64")
    v = moved.at[row, col]
    moved.at[row, col] = v + max(1e-6, abs(v) * 1e-6)
    nan = df.copy()
    nan[col] = nan[col].astype("float64")
    nan.at[row, col] = float("nan")
    return [("value moved beyond tolerance", moved),
            ("row dropped", df.drop(index=df.index[0])),
            ("column renamed", df.rename(columns={df.columns[0]: df.columns[0] + "_x"})),
            ("number replaced by NaN", nan)]


def main() -> int:
    outcomes = []

    def expect(label, errors, should_fail):
        ok = bool(errors) == should_fail
        outcomes.append(ok)
        verdict = "caught" if errors else "passed"
        print(f"{'ok  ' if ok else 'FAIL'} {label}: {verdict}", flush=True)

    with run.private_dir() as run_dir:
        import workloads
        from xarray_spark.backends import open_zarr
        inputs = workloads.Inputs(run_dir, seed=7, workload="grid-io")
        with run.session() as spark:
            for op in workloads.registry_ops(spark, inputs.sf_dir, ["q02", "q71"]):
                got = op.build().toPandas()
                expect(f"{op.name} as computed", op.check(got), False)
                for label, bad in _mutations(got):
                    expect(f"{op.name} {label}", op.check(bad), True)

            op = next(o for o in workloads.grid_ops(spark, inputs)
                      if o.name == "grid_write_read")
            expect("grid_write_read as computed", op.check(op.build().toPandas()), False)
            store = os.path.join(inputs.stores, "kelvin_0.zarr")
            var = os.path.join(store, "temperature")
            a, b = sorted(f for f in os.listdir(var) if not f.startswith("."))[:2]
            pa, pb = os.path.join(var, a), os.path.join(var, b)
            os.rename(pa, pa + ".swap")
            os.rename(pb, pa)
            os.rename(pa + ".swap", pb)
            swapped = open_zarr(spark, store).to_spark().toPandas()
            expect(f"grid_write_read chunks {a} and {b} swapped",
                   op.check(swapped), True)
    print(f"{sum(outcomes)}/{len(outcomes)} as expected")
    return 0 if all(outcomes) else 1


if __name__ == "__main__":
    sys.exit(main())
