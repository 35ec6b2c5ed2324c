"""The generator's expected marts agree with DuckDB over the generated files.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
No Spark: DuckDB reads the CSVs, parquet dims and fact history that the
benchmark hands to the engine, and recomputes both marts in SQL.
"""

from __future__ import annotations

import csv
import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import gen  # noqa: E402

CONTRACT = ", ".join(
    [
        "CAST(customer_id AS INTEGER) AS customer_id",
        "CAST(store_id AS INTEGER) AS store_id",
        "CAST(product_name AS VARCHAR) AS product_name",
        "CAST(sales_date AS DATE) AS sales_date",
        "CAST(sales_person_id AS INTEGER) AS sales_person_id",
        "CAST(price AS DECIMAL(10,2)) AS price",
        "CAST(quantity AS INTEGER) AS quantity",
        "CAST(total_cost AS DECIMAL(10,2)) AS total_cost",
    ]
)


def _header(path: Path) -> list[str]:
    with open(path, newline="") as f:
        return next(csv.reader(f))


def _connect(dims_dir: Path, sales_sql: str, month: str | None = None):
    con = duckdb.connect()
    for t in ("customer", "store", "sales_team"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{dims_dir}/{t}/*.parquet')")
    where = f"WHERE strftime(sales_date, '%Y-%m') = '{month}'" if month else ""
    con.execute(f"CREATE VIEW sales AS SELECT * FROM ({sales_sql}) {where}")
    con.execute(
        """
        CREATE VIEW enriched AS
        SELECT s.*, c.first_name, c.last_name, c.address, c.phone_number,
               t.first_name AS sp_first, t.last_name AS sp_last
        FROM sales s
        JOIN customer c ON c.customer_id = s.customer_id
        JOIN store st ON st.id = s.store_id
        JOIN sales_team t ON t.id = s.sales_person_id
        """
    )
    return con


def _marts(con) -> tuple[dict, dict]:
    cust = con.execute(
        """
        SELECT customer_id, first_name || ' ' || last_name, address, phone_number,
               strftime(sales_date, '%Y-%m'), CAST(SUM(total_cost) * 100 AS BIGINT)
        FROM enriched GROUP BY ALL
        """
    ).fetchall()
    team = con.execute(
        """
        WITH totals AS (
          SELECT store_id, sales_person_id, sp_first || ' ' || sp_last AS full_name,
                 strftime(sales_date, '%Y-%m') AS m, SUM(total_cost) AS total
          FROM enriched GROUP BY ALL)
        SELECT store_id, sales_person_id, full_name, m,
               CAST(total * 100 AS BIGINT),
               CAST(CASE WHEN rank() OVER (PARTITION BY store_id, m ORDER BY total DESC) = 1
                    THEN ROUND(total * 0.01, 2) ELSE 0 END * 100 AS BIGINT)
        FROM totals
        """
    ).fetchall()
    return (
        {tuple(r[:-1]): r[-1] for r in cust},
        {tuple(r[:-2]): (r[-2], r[-1]) for r in team},
    )


def _assert_paid_ties(team: dict) -> None:
    """Every month has store 1's two-way rank-1 tie, both paid."""
    months = {k[3] for k in team}
    for m in months:
        paid = [k for k, (_, inc) in team.items() if k[0] == 1 and k[3] == m and inc > 0]
        assert sorted(k[1] for k in paid) == [1, 2], m


@pytest.mark.parametrize("workload", ["etl_bulk", "etl_many_files"])
def test_batch_expectations_match_duckdb(tmp_path, workload):
    inputs = gen.generate_batch(workload, 11, tmp_path / workload)
    landing = inputs.pristine / "landing"
    files = sorted(landing.iterdir())
    valid = [p for p in files if set(gen.HEADER8) <= set(_header(p))]
    sales_sql = " UNION ALL ".join(
        f"SELECT {CONTRACT} FROM read_csv('{p}', header=true, all_varchar=true)" for p in valid
    )
    con = _connect(inputs.dims_dir, sales_sql)
    cust, team = _marts(con)

    exp = inputs.expected
    assert exp.accepted == [p.name for p in valid]
    assert exp.quarantined == [p.name for p in files if p not in valid]
    assert exp.n_fact_rows == con.execute("SELECT COUNT(*) FROM sales").fetchone()[0]
    assert cust == exp.customer_mart
    assert team == exp.team_mart
    _assert_paid_ties(team)
    if workload == "etl_many_files":
        assert exp.quarantined, "the many-files batch must exercise quarantine"
        assert len({tuple(_header(p)) for p in valid}) == 3


def test_incremental_expectations_match_duckdb(tmp_path):
    inputs = gen.generate_incremental("etl_incremental", 11, tmp_path / "inc")
    history = (
        f"SELECT {CONTRACT} FROM read_parquet('{inputs.history_fact}/**/*.parquet', "
        "hive_partitioning=false)"
    )
    for name, arrivals, exp in (
        ("warmup", [inputs.warmup_arrival], inputs.expected_warmup),
        ("op", [inputs.warmup_arrival, inputs.arrival], inputs.expected),
    ):
        parts = [history] + [
            f"SELECT {CONTRACT} FROM read_csv('{p}', header=true, all_varchar=true)"
            for d in arrivals for p in sorted(d.iterdir())
        ]
        month = next(iter(exp.customer_mart))[4]
        con = _connect(inputs.dims_dir, " UNION ALL ".join(parts), month)
        cust, team = _marts(con)
        assert cust == exp.customer_mart, name
        assert team == exp.team_mart, name
        _assert_paid_ties(team)
    assert inputs.arrival_rows == sum(
        len(p.read_text().splitlines()) - 1 for p in inputs.arrival.iterdir()
    )
