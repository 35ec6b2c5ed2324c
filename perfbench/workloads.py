"""The workloads: how each prepares its on-disk start state, calls the
engine for one op, and checks the op's outputs against ``gen``'s exact
expectations. Preparation and checks run outside the timed window."""

from __future__ import annotations

import os
import shutil
from decimal import Decimal
from pathlib import Path

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen

CUSTOMER_MART = "customers_data_mart"
TEAM_MART = "sales_team_data_mart"


def _cents(d: Decimal) -> int:
    return int(d.scaleb(2))


def _read_dir(path: Path, partitions: list[tuple[str, pa.DataType]]) -> list[dict]:
    if not partitions:
        return pq.read_table(path).to_pylist()
    part = ds.partitioning(pa.schema(partitions), flavor="hive")
    return ds.dataset(path, format="parquet", partitioning=part).to_table().to_pylist()


def _check_marts(out: Path, exp: gen.Expected, month_partitioned: bool) -> list[str]:
    """Both marts under ``out`` equal ``exp`` exactly, row for row."""
    errors = []
    month_col = "sales_month" if month_partitioned else "sales_date_month"
    cust = _read_dir(out / CUSTOMER_MART, [("sales_month", pa.string())] if month_partitioned else [])
    got = {
        (r["customer_id"], r["full_name"], r["address"], r["phone_number"], r[month_col]):
        _cents(r["total_sales"])
        for r in cust
    }
    if len(got) != len(cust) or got != exp.customer_mart:
        errors.append(f"customer mart: {len(cust)} rows differ from {len(exp.customer_mart)} expected")
    team = _read_dir(out / TEAM_MART, [("sales_month", pa.string()), ("store_id", pa.int32())])
    got = {
        (r["store_id"], r["sales_person_id"], r["full_name"], r["sales_month"]):
        (_cents(r["total_sales"]), _cents(r["incentive"]))
        for r in team
    }
    if len(got) != len(team) or got != exp.team_mart:
        errors.append(f"sales team mart: {len(team)} rows differ from {len(exp.team_mart)} expected")
    return errors


def _preread(paths) -> None:
    """Read inputs once so the op starts with them in the page cache."""
    for p in paths:
        with open(p, "rb") as f:
            while f.read(1 << 20):
                pass


def _load_dims(spark, dims_dir: Path):
    # the CLI's --dims-dir loading (sales_data_pipeline_spark.__main__._load_dims)
    return tuple(spark.read.parquet(f"{dims_dir}/{t}") for t in ("customer", "store", "sales_team"))


class BatchWorkload:
    """One op = ``run_pipeline`` over one landed batch, from the same
    on-disk state every time (landing + audit log restored)."""

    root_span = "pipeline.run_pipeline"

    def __init__(self, name: str, seed: int, work: Path):
        self.inputs = gen.generate_batch(name, seed, gen.cache_dir(work, name, seed))
        self.run_dir = work / f"run-{name}"
        self.input_bytes = self.inputs.input_bytes

    def load_dims(self, spark):
        return _load_dims(spark, self.inputs.dims_dir)

    def _cfg(self):
        from sales_data_pipeline_spark.pipeline.sales_pipeline import PipelineConfig

        d = self.run_dir
        return PipelineConfig(
            input_dir=str(d / "landing"), quarantine_dir=str(d / "quarantine"),
            processed_dir=str(d / "processed"), output_dir=str(d / "output"),
            state_dir=str(d / "state"),
        )

    def prepare(self, warmup: bool = False) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)
        shutil.copytree(self.inputs.pristine, self.run_dir)
        _preread(sorted((self.run_dir / "landing").iterdir()))

    def written_dirs(self) -> list[Path]:
        return [self.run_dir / "output", self.run_dir / "state"]

    def state_files(self) -> int:
        state = self.run_dir / "state"
        return sum(1 for p in state.glob("*.parquet")) if state.exists() else 0

    def after_warmup(self) -> None:
        pass

    def run(self, spark, dims):
        from sales_data_pipeline_spark.pipeline.sales_pipeline import run_pipeline

        return run_pipeline(spark, self._cfg(), *dims)

    def rows(self, result) -> int:
        return result.n_fact_rows

    def check(self, result, warmup: bool = False) -> list[str]:
        exp, d = self.inputs.expected, self.run_dir
        errors = []
        if result.n_fact_rows != exp.n_fact_rows:
            errors.append(f"n_fact_rows {result.n_fact_rows} != {exp.n_fact_rows}")

        def names(paths):
            return sorted(p.rsplit("/", 1)[-1] for p in paths)

        if names(result.accepted_files) != exp.accepted:
            errors.append("accepted files differ")
        if names(result.quarantined_files) != exp.quarantined:
            errors.append("quarantined files differ")
        for sub, want in (("processed", exp.accepted), ("quarantine", exp.quarantined)):
            got = sorted(os.listdir(d / sub)) if (d / sub).exists() else []
            if got != want:
                errors.append(f"{sub}/ holds {len(got)} files, expected {len(want)}")
        if any(p.suffix == ".csv" for p in (d / "landing").iterdir()):
            errors.append("landing/ not drained")
        return errors + _check_marts(d / "output", exp, month_partitioned=False)


class IncrementalWorkload:
    """One op = land one day of hourly files, then ``run_incremental``
    (available-now). Every op starts from the state the warmup arrival
    left: fact-store history + one committed micro-batch."""

    root_span = "streaming.incremental.run_incremental"

    def __init__(self, name: str, seed: int, work: Path):
        self.inputs = gen.generate_incremental(name, seed, gen.cache_dir(work, name, seed))
        self.run_dir = work / f"run-{name}"
        self.pristine = work / f"run-{name}-pristine"
        self.input_bytes = self.inputs.input_bytes

    def load_dims(self, spark):
        return _load_dims(spark, self.inputs.dims_dir)

    def _land(self, arrival: Path) -> None:
        landing = self.run_dir / "landing"
        landing.mkdir(exist_ok=True)
        for p in sorted(arrival.iterdir()):
            # fresh mtimes: the file source ignores files older than
            # maxFileAge relative to the newest file it has seen
            shutil.copyfile(p, landing / p.name)
        _preread(sorted(arrival.iterdir()))

    def prepare(self, warmup: bool = False) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)
        if warmup:
            shutil.rmtree(self.pristine, ignore_errors=True)
            self.run_dir.mkdir(parents=True)
            shutil.copytree(self.inputs.history_fact, self.run_dir / "fact")
            self._land(self.inputs.warmup_arrival)
        else:
            shutil.copytree(self.pristine, self.run_dir)
            self._land(self.inputs.arrival)

    def written_dirs(self) -> list[Path]:
        return [self.run_dir / "output", self.run_dir / "checkpoint", self.run_dir / "fact"]

    def state_files(self) -> int:
        return 0

    def run(self, spark, dims):
        from sales_data_pipeline_spark.streaming.incremental import (
            IncrementalConfig,
            run_incremental,
        )

        d = self.run_dir
        cfg = IncrementalConfig(
            input_dir=str(d / "landing"), fact_dir=str(d / "fact"),
            output_dir=str(d / "output"), checkpoint_dir=str(d / "checkpoint"),
        )
        return run_incremental(spark, cfg, *dims, available_now=True)

    def rows(self, query) -> int:
        return self.inputs.arrival_rows

    def check(self, query, warmup: bool = False) -> list[str]:
        if query.exception() is not None:
            return [f"stream failed: {query.exception()}"]
        exp = self.inputs.expected_warmup if warmup else self.inputs.expected
        return _check_marts(self.run_dir / "output", exp, month_partitioned=True)

    def after_warmup(self) -> None:
        shutil.copytree(self.run_dir, self.pristine)


WORKLOADS = {
    "etl_bulk": BatchWorkload,
    "etl_many_files": BatchWorkload,
    "etl_incremental": IncrementalWorkload,
}
