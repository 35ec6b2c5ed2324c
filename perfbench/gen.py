"""Seeded input generator for the benchmark workloads.

Everything the engine reads is produced here from ``(workload, seed)``:
landed sales CSVs, the three dimensions as parquet (read the way the
CLI's ``--dims-dir`` reads them), a pre-seeded audit log, a pre-seeded
fact-store history, and the exact expected marts. Money is kept in
integer cents, so every expected total and incentive is exact.

Pure Python plus pyarrow: no Spark, so generation never shares the
engine's session and the expectations are independent of it.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import random
import shutil
from dataclasses import dataclass, field
from decimal import Decimal
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

PRODUCTS_CENTS = {
    "quaker oats": 21200,
    "sugar": 5000,
    "maida": 2000,
    "besan": 5200,
    "refined oil": 11000,
    "clinic plus": 150,
    "dantkanti": 10000,
    "nutrella": 4000,
}
TEAM_SIZE = 5
HEADER8 = (
    "customer_id", "store_id", "product_name", "sales_date",
    "sales_person_id", "price", "quantity", "total_cost",
)
# three producer generations of the landed header: the contract, +1
# extra, +3 extras (all accepted; extras fold into additional_column)
HEADER_GENERATIONS = (
    HEADER8,
    HEADER8 + ("payment_mode",),
    HEADER8 + ("payment_mode", "channel", "coupon_code"),
)
# the quarantined shape: store_id missing
HEADER_MISSING_STORE = tuple(c for c in HEADER8 if c != "store_id") + ("payment_mode",)

# Row = (customer_id, store_id, product_name, sales_date, sales_person_id,
#        price_cents, quantity)
Row = tuple


@dataclass(frozen=True)
class Spec:
    """Size and shape of one workload's inputs."""

    customers: int
    stores: int
    first_day: dt.date
    last_day: dt.date  # inclusive
    files: int
    rows_per_file: int
    header_generations: int = 1
    quarantine_every: int = 0  # every k-th file misses store_id (0 = none)
    audit_history_days: int = 0  # pre-seeded audit log: one A+I run per day
    hourly_files: int = 0  # incremental only: files per arrival day


@dataclass
class Expected:
    """Exact expected outputs of one engine call."""

    customer_mart: dict = field(default_factory=dict)  # key -> total cents
    team_mart: dict = field(default_factory=dict)  # key -> (total, incentive) cents
    n_fact_rows: int = 0
    accepted: list[str] = field(default_factory=list)
    quarantined: list[str] = field(default_factory=list)


def _month(d: dt.date) -> str:
    return d.strftime("%Y-%m")


def _fmt_cents(c: int) -> str:
    return f"{c // 100}.{c % 100:02d}"


def customer_full_name(cid: int) -> str:
    return f"Cfirst{cid} Clast{cid}"


def salesperson_full_name(sid: int) -> str:
    return f"Tfirst{sid} Tlast{sid}"


def customer_address(cid: int) -> str:
    return f"{cid % 97} Market Road"


def customer_phone(cid: int) -> str:
    return f"91{cid:08d}"


class RowSource:
    """Seeded sales rows over a spec's customers, stores and days.

    In every month, store 1's salespeople 1 and 2 sell nothing at random;
    ``add_ties`` later gives both the same dominant total, so each month
    has a rank-1 tie whose incentive is paid to both."""

    def __init__(self, spec: Spec, rng: random.Random):
        self.spec = spec
        self.rng = rng
        self.n_days = (spec.last_day - spec.first_day).days + 1
        self.days = [spec.first_day + dt.timedelta(days=k) for k in range(self.n_days)]
        self.products = list(PRODUCTS_CENTS.items())

    def row(self, day: dt.date | None = None) -> Row:
        rnd, s = self.rng.random, self.spec
        store = 1 + int(rnd() * s.stores)
        slot = 1 + int(rnd() * TEAM_SIZE)
        if store == 1 and slot <= 2:
            slot = 3 + int(rnd() * (TEAM_SIZE - 2))
        d = day or self.days[int(rnd() * self.n_days)]
        product, cents = self.products[int(rnd() * len(self.products))]
        return (
            1 + int(rnd() * s.customers), store, product, d,
            (store - 1) * TEAM_SIZE + slot, cents, 1 + int(rnd() * 10),
        )

    def add_ties(self, rows: list[Row]) -> list[Row]:
        """Rows that give store 1's salespeople 1 and 2 equal totals above
        every other salesperson of store 1, in every month of ``rows``."""
        top: dict[tuple, int] = {}
        months = set()
        for _c, store, _p, d, sp, cents, qty in rows:
            months.add((d.year, d.month))
            if store == 1:
                top[(d.year, d.month, sp)] = top.get((d.year, d.month, sp), 0) + cents * qty
        out = []
        big = PRODUCTS_CENTS["quaker oats"]
        for y, m in sorted(months):
            best = max([v for (yy, mm, _), v in top.items() if (yy, mm) == (y, m)], default=0)
            for _ in range(best // (big * 10) + 1):
                cid = 1 + int(self.rng.random() * self.spec.customers)
                for sp in (1, 2):
                    out.append((cid, 1, "quaker oats", dt.date(y, m, 1), sp, big, 10))
        return out


def expected_marts(rows: list[Row], months: set[str] | None = None) -> Expected:
    """Both marts over ``rows`` (optionally only the given months), with
    rank() ties and the 1% incentive rounded half-up to the cent."""
    cust_tot: dict[tuple, int] = {}
    team_tot: dict[tuple, int] = {}
    for cid, store, _p, d, sp, cents, qty in rows:
        m = (d.year, d.month)
        cust_tot[(cid, m)] = cust_tot.get((cid, m), 0) + cents * qty
        team_tot[(store, sp, m)] = team_tot.get((store, sp, m), 0) + cents * qty
    exp = Expected()

    def month(m):
        return f"{m[0]:04d}-{m[1]:02d}"

    for (cid, m), v in cust_tot.items():
        if months is None or month(m) in months:
            key = (cid, customer_full_name(cid), customer_address(cid), customer_phone(cid), month(m))
            exp.customer_mart[key] = v
    top: dict[tuple, int] = {}
    for (store, _sp, m), v in team_tot.items():
        top[(store, m)] = max(top.get((store, m), 0), v)
    for (store, sp, m), v in team_tot.items():
        if months is None or month(m) in months:
            incentive = (v + 50) // 100 if v == top[(store, m)] else 0
            exp.team_mart[(store, sp, salesperson_full_name(sp), month(m))] = (v, incentive)
    return exp


def _write_csv(path: Path, header: tuple[str, ...], rows: list[Row], rng: random.Random) -> None:
    extras = len(header) - len([c for c in header if c in HEADER8])
    drop_store = "store_id" not in header
    lines = [",".join(header)]
    for cid, store, product, d, sp, cents, qty in rows:
        fields = [str(cid), str(store), product, d.isoformat(), str(sp),
                  _fmt_cents(cents), str(qty), _fmt_cents(cents * qty)]
        if drop_store:
            del fields[1]
        if extras:
            fields.append("cash" if rng.random() < 0.5 else "UPI")
        if extras > 1:
            fields += ["store" if rng.random() < 0.8 else "phone", f"C{rng.randrange(1000):03d}"]
        lines.append(",".join(fields))
    path.write_text("\n".join(lines) + "\n")


def write_dims(spec: Spec, dims_dir: Path) -> None:
    """customer / store / sales_team as single-file parquet datasets with
    the engine's dimension schemas (schemas.CUSTOMER_DIM etc.)."""
    i32, s, d32 = pa.int32(), pa.string(), pa.date32()
    c_ids = list(range(1, spec.customers + 1))
    customer = pa.table(
        {
            "customer_id": pa.array(c_ids, i32),
            "first_name": [f"Cfirst{i}" for i in c_ids],
            "last_name": [f"Clast{i}" for i in c_ids],
            "address": [customer_address(i) for i in c_ids],
            "pincode": [f"1220{i % 100:02d}" for i in c_ids],
            "phone_number": [customer_phone(i) for i in c_ids],
            "customer_joining_date": pa.array(
                [dt.date(2020, 1, 1) + dt.timedelta(days=i % 1000) for i in c_ids], d32
            ),
        }
    )
    s_ids = list(range(1, spec.stores + 1))
    store = pa.table(
        {
            "id": pa.array(s_ids, i32),
            "address": [f"Store street {i}" for i in s_ids],
            "store_pincode": [f"1100{i % 100:02d}" for i in s_ids],
            "store_manager_name": [f"Manager{i}" for i in s_ids],
            "store_opening_date": pa.array([dt.date(2019, 1, 1)] * len(s_ids), d32),
            "reviews": ["ok"] * len(s_ids),
        }
    )
    t_ids = list(range(1, spec.stores * TEAM_SIZE + 1))
    team = pa.table(
        {
            "id": pa.array(t_ids, i32),
            "first_name": [f"Tfirst{i}" for i in t_ids],
            "last_name": [f"Tlast{i}" for i in t_ids],
            "manager_id": pa.array([(i - 1) // TEAM_SIZE * TEAM_SIZE + 1 for i in t_ids], i32),
            "is_manager": ["Y" if i % TEAM_SIZE == 1 else "N" for i in t_ids],
            "address": ["Delhi"] * len(t_ids),
            "pincode": ["122009"] * len(t_ids),
            "joining_date": pa.array([dt.date(2021, 6, 1)] * len(t_ids), d32),
        }
    )
    for name, table in (("customer", customer), ("store", store), ("sales_team", team)):
        (dims_dir / name).mkdir(parents=True)
        pq.write_table(table, dims_dir / name / "part-0.parquet")


AUDIT_SCHEMA = pa.schema(
    [
        ("file_name", pa.string()),
        ("file_location", pa.string()),
        ("status", pa.string()),
        ("updated_date", pa.timestamp("us", tz="UTC")),
        ("seq", pa.int64()),
    ]
)


def write_audit_history(state_dir: Path, days: int, end: dt.date, files_per_run: int = 4) -> None:
    """An audit log of ``days`` daily runs, as pipeline.state.AuditState
    leaves it: per run, one append marking the run's files 'A' and one
    flipping them to 'I' (two parquet files per run, nothing left stale)."""
    state_dir.mkdir(parents=True)
    for k in range(days):
        day = end - dt.timedelta(days=days - k)
        names = [f"sales_{day:%Y%m%d}_{j}.csv" for j in range(files_per_run)]
        locs = [f"file:/landing/processed/{n}" for n in names]
        for seq, status, hour in ((1, "A", 1), (2, "I", 2)):
            ts = dt.datetime(day.year, day.month, day.day, hour, tzinfo=dt.timezone.utc)
            table = pa.table(
                {
                    "file_name": names,
                    "file_location": locs,
                    "status": [status] * len(names),
                    "updated_date": [ts] * len(names),
                    "seq": [seq] * len(names),
                },
                schema=AUDIT_SCHEMA,
            )
            pq.write_table(table, state_dir / f"part-{k:05d}-{seq}.snappy.parquet")


FACT_SCHEMA = pa.schema(
    [
        ("customer_id", pa.int32()),
        ("store_id", pa.int32()),
        ("product_name", pa.string()),
        ("sales_date", pa.date32()),
        ("sales_person_id", pa.int32()),
        ("price", pa.decimal128(10, 2)),
        ("quantity", pa.int32()),
        ("total_cost", pa.decimal128(10, 2)),
        ("additional_column", pa.string()),
    ]
)


def write_fact_history(fact_dir: Path, rows: list[Row]) -> None:
    """Fact-store history in the layout the incremental pipeline keeps:
    ``ingest_batch=<id>/sales_month=<yyyy-MM>/``; loaded before the
    stream started, so it carries batch id -1."""
    by_month: dict[str, list[Row]] = {}
    for row in rows:
        by_month.setdefault(_month(row[3]), []).append(row)
    for m, part in sorted(by_month.items()):
        cols = list(zip(*part))
        table = pa.table(
            {
                "customer_id": pa.array(cols[0], pa.int32()),
                "store_id": pa.array(cols[1], pa.int32()),
                "product_name": pa.array(cols[2], pa.string()),
                "sales_date": pa.array(cols[3], pa.date32()),
                "sales_person_id": pa.array(cols[4], pa.int32()),
                "price": pa.array([Decimal(c).scaleb(-2) for c in cols[5]], pa.decimal128(10, 2)),
                "quantity": pa.array(cols[6], pa.int32()),
                "total_cost": pa.array(
                    [Decimal(c * q).scaleb(-2) for c, q in zip(cols[5], cols[6])],
                    pa.decimal128(10, 2),
                ),
                "additional_column": pa.nulls(len(part), pa.string()),
            },
            schema=FACT_SCHEMA,
        )
        out = fact_dir / "ingest_batch=-1" / f"sales_month={m}"
        out.mkdir(parents=True)
        pq.write_table(table, out / "part-0.snappy.parquet")


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

SPECS: dict[str, Spec] = {
    # few large files, one header, one quarter, empty audit log
    "etl_bulk": Spec(
        customers=20_000, stores=20, first_day=dt.date(2024, 1, 1),
        last_day=dt.date(2024, 3, 31), files=4, rows_per_file=40_000,
    ),
    # many small files, three header generations, quarantines, a year of
    # partitions and 60 days of audit history
    "etl_many_files": Spec(
        customers=5_000, stores=3, first_day=dt.date(2023, 1, 1),
        last_day=dt.date(2023, 12, 31), files=48, rows_per_file=70,
        header_generations=3, quarantine_every=24, audit_history_days=60,
    ),
    # ~2.5 months of fact-store history, then one day of hourly files per op
    "etl_incremental": Spec(
        customers=5_000, stores=10, first_day=dt.date(2024, 1, 1),
        last_day=dt.date(2024, 3, 14), files=0, rows_per_file=40,
        hourly_files=24,
    ),
}


@dataclass
class BatchInputs:
    """A landed batch for ``run_pipeline`` (all paths absolute)."""

    root: Path
    dims_dir: Path
    pristine: Path  # landing/ + state/ as every op must start from
    input_bytes: int
    expected: Expected


@dataclass
class IncrementalInputs:
    """History + two arrivals for ``run_incremental``."""

    root: Path
    dims_dir: Path
    history_fact: Path
    warmup_arrival: Path  # day 1 after history: lands before the pristine snapshot
    arrival: Path  # day 2: landed by every timed op
    input_bytes: int  # bytes of one timed arrival
    arrival_rows: int
    expected_warmup: Expected
    expected: Expected  # the arrival's month after the timed op


def cache_dir(work: Path, workload: str, seed: int) -> Path:
    """Where the inputs of (workload, seed) are cached; a spec change
    gets a fresh directory."""
    digest = hashlib.sha1(repr(SPECS[workload]).encode()).hexdigest()[:10]
    return work / "inputs" / f"{workload}-{seed}-{digest}"


def _done(root: Path) -> bool:
    return (root / "DONE").exists()


def _fresh(root: Path) -> None:
    shutil.rmtree(root, ignore_errors=True)
    root.mkdir(parents=True)


def generate_batch(workload: str, seed: int, root: Path) -> BatchInputs:
    spec = SPECS[workload]
    if not _done(root):
        _fresh(root)
        rng = random.Random(f"{workload}:{seed}")
        src = RowSource(spec, rng)
        files: list[tuple[str, tuple[str, ...], list[Row]]] = []
        for i in range(spec.files):
            bad = spec.quarantine_every and i % spec.quarantine_every == spec.quarantine_every // 2
            header = HEADER_MISSING_STORE if bad else HEADER_GENERATIONS[i % spec.header_generations]
            files.append((f"sales_{i:05d}.csv", header, [src.row() for _ in range(spec.rows_per_file)]))
        valid = [f for f in files if "store_id" in f[1]]
        quarantined = sorted(f[0] for f in files if "store_id" not in f[1])
        ties = src.add_ties([r for f in valid for r in f[2]])
        for j, row in enumerate(ties):
            valid[j % len(valid)][2].append(row)
        landing = root / "pristine" / "landing"
        landing.mkdir(parents=True)
        for name, header, rows in files:
            _write_csv(landing / name, header, rows, rng)
        if spec.audit_history_days:
            write_audit_history(root / "pristine" / "state", spec.audit_history_days, spec.first_day)
        write_dims(spec, root / "dims")
        exp = expected_marts([r for f in valid for r in f[2]])
        meta = {
            "customer_mart": [list(k) + [v] for k, v in exp.customer_mart.items()],
            "team_mart": [list(k) + list(v) for k, v in exp.team_mart.items()],
            "n_fact_rows": sum(len(f[2]) for f in valid),
            "accepted": sorted(f[0] for f in valid),
            "quarantined": quarantined,
        }
        (root / "expected.json").write_text(json.dumps(meta))
        (root / "DONE").write_text("")
    meta = json.loads((root / "expected.json").read_text())
    exp = Expected(
        customer_mart={tuple(r[:-1]): r[-1] for r in meta["customer_mart"]},
        team_mart={tuple(r[:-2]): (r[-2], r[-1]) for r in meta["team_mart"]},
        n_fact_rows=meta["n_fact_rows"],
        accepted=meta["accepted"],
        quarantined=meta["quarantined"],
    )
    landing = root / "pristine" / "landing"
    return BatchInputs(
        root=root,
        dims_dir=root / "dims",
        pristine=root / "pristine",
        input_bytes=sum(p.stat().st_size for p in landing.iterdir()),
        expected=exp,
    )


def _day_files(src: RowSource, day: dt.date, spec: Spec) -> list[list[Row]]:
    return [[src.row(day) for _ in range(spec.rows_per_file)] for _ in range(spec.hourly_files)]


def generate_incremental(workload: str, seed: int, root: Path) -> IncrementalInputs:
    spec = SPECS[workload]
    warm_day = spec.last_day + dt.timedelta(days=1)
    op_day = spec.last_day + dt.timedelta(days=2)
    if not _done(root):
        _fresh(root)
        rng = random.Random(f"{workload}:{seed}")
        src = RowSource(spec, rng)
        per_day = spec.hourly_files * spec.rows_per_file
        history = [src.row() for _ in range(per_day * src.n_days)]
        warm = _day_files(src, warm_day, spec)
        arrival = _day_files(src, op_day, spec)
        landed = [r for f in warm + arrival for r in f]
        history += src.add_ties(history + landed)
        write_fact_history(root / "history_fact", history)
        for name, day, files in (("warmup_arrival", warm_day, warm), ("arrival", op_day, arrival)):
            (root / name).mkdir()
            for h, rows in enumerate(files):
                _write_csv(root / name / f"sales_{day:%Y%m%d}_{h:02d}.csv", HEADER8, rows, rng)
        write_dims(spec, root / "dims")
        months = {_month(op_day)}
        warm_months = {_month(warm_day)}
        meta = {}
        for key, rows, ms in (
            ("warmup", history + [r for f in warm for r in f], warm_months),
            ("op", history + landed, months),
        ):
            exp = expected_marts(rows, ms)
            meta[key] = {
                "customer_mart": [list(k) + [v] for k, v in exp.customer_mart.items()],
                "team_mart": [list(k) + list(v) for k, v in exp.team_mart.items()],
            }
        meta["arrival_rows"] = sum(len(f) for f in arrival)
        (root / "expected.json").write_text(json.dumps(meta))
        (root / "DONE").write_text("")
    meta = json.loads((root / "expected.json").read_text())

    def exp_of(m: dict) -> Expected:
        return Expected(
            customer_mart={tuple(r[:-1]): r[-1] for r in m["customer_mart"]},
            team_mart={tuple(r[:-2]): (r[-2], r[-1]) for r in m["team_mart"]},
        )

    return IncrementalInputs(
        root=root,
        dims_dir=root / "dims",
        history_fact=root / "history_fact",
        warmup_arrival=root / "warmup_arrival",
        arrival=root / "arrival",
        input_bytes=sum(p.stat().st_size for p in (root / "arrival").iterdir()),
        arrival_rows=meta["arrival_rows"],
        expected_warmup=exp_of(meta["warmup"]),
        expected=exp_of(meta["op"]),
    )
