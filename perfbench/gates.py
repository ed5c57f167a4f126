"""CDC correctness gate, run outside the timed regions.

``cdc_mismatches`` reads the program's durable parquet output with
DuckDB, so the gate adds no Spark jobs to the run it checks.
"""

from __future__ import annotations

import duckdb


def cdc_mismatches(state_dir: str, fact_dir: str | None, log, current_customers: set[int]) -> list[str]:
    """Durable Gold and Medallion state against the generator's goldens:
    fact count, unique ``transaction_id``, no null ``customer_id``, SCD2
    version counts per key, the set of current keys and the current
    customer images. ``fact_dir`` defaults to the state's own fact."""
    con = duckdb.connect()
    try:
        scan = lambda d: f"read_parquet('{d}/*.parquet')"  # noqa: E731
        fact = scan(fact_dir or f"{state_dir}/fact_state")
        n, ids, null_cust = con.execute(
            f"SELECT count(*), count(DISTINCT transaction_id), "
            f"count(*) FILTER (WHERE customer_id IS NULL) FROM {fact}"
        ).fetchone()
        problems = []
        n_txn = len(log.expected_current["transactions"])
        if n != n_txn:
            problems.append(f"fact rows {n} != {n_txn}")
        if ids != n:
            problems.append(f"{n - ids} duplicate transaction_id")
        if null_cust:
            problems.append(f"{null_cust} facts without customer_id")
        keys = {"customers": "customer_id", "accounts": "account_id"}
        for table, key in keys.items():
            rows = con.execute(
                f"SELECT CAST({key} AS BIGINT), count(*), bool_or(valid_to IS NULL) "
                f"FROM {scan(f'{state_dir}/snapshot_{table}')} GROUP BY 1"
            ).fetchall()
            if {k: v for k, v, _ in rows} != log.expected_versions[table]:
                problems.append(f"{table}: SCD2 version counts differ")
            want = current_customers if table == "customers" else set(log.expected_current[table])
            if {k for k, _, is_open in rows if is_open} != want:
                problems.append(f"{table}: current keys differ")
        current = {
            k: (first, email)
            for k, first, email in con.execute(
                f"SELECT CAST(customer_id AS BIGINT), first_name, email "
                f"FROM {scan(f'{state_dir}/snapshot_customers')} WHERE valid_to IS NULL"
            ).fetchall()
        }
        for k, image in log.expected_current["customers"].items():
            if current.get(k) != (image["first_name"], image["email"]):
                problems.append(f"customer {k}: current image {current.get(k)}")
                break
        return problems
    finally:
        con.close()
