"""Correctness checks, run outside the timed sections.

Catalog queries are compared with their DuckDB oracles the way
``tests/oracle_utils.py`` compares them: same column names, same row
count, and the same rows once columns are sorted by name and rows are
put in a canonical order. The medallion run is checked against a
DuckDB recomputation over the same bronze lot.

Every check returns ``None`` when it passes and a one-line reason when
it does not.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

from oracle_utils import _canon  # tests/oracle_utils.py, on sys.path

from fixtures import TABLES


def duck(memory_limit: str, threads: int) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with explicit, host-derived limits."""
    return duckdb.connect(config={"memory_limit": memory_limit, "threads": threads})


def register_fixtures(con: duckdb.DuckDBPyConnection, sf_dir: str) -> None:
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")


def same_rows(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    bad = sum(a != b for a, b in zip(_canon(got), _canon(want)))
    return f"{bad}/{len(got)} rows differ" if bad else None


def check_query(con: duckdb.DuckDBPyConnection, got: pd.DataFrame, oracle_sql: str) -> str | None:
    return same_rows(got, con.execute(oracle_sql).df())


_BRONZE = """
CREATE OR REPLACE VIEW fact AS
SELECT id_transaccion, id_atm,
       CAST(replace(replace(fecha, 'T', ' '), 'Z', '') AS TIMESTAMP) AS fecha,
       CAST(monto AS DECIMAL(18, 2)) AS monto, tipo_movimiento, status_transaccion
FROM read_csv('{raw}/fact_transactions/*.csv', header = true, all_varchar = true);
CREATE OR REPLACE VIEW dim AS
SELECT id_atm, ubicacion, CAST(latitud AS DOUBLE) AS latitud,
       CAST(longitud AS DOUBLE) AS longitud,
       CAST(capacidad_maxima AS BIGINT) AS capacidad_maxima, modelo, estado
FROM read_csv('{raw}/dim_atms/*.csv', header = true, all_varchar = true);
CREATE OR REPLACE VIEW joined AS
SELECT f.*, d.ubicacion, d.latitud, d.longitud, d.capacidad_maxima, d.modelo, d.estado,
       f.id_atm IS NOT NULL AS k_fk, f.monto > 0 AS k_amount,
       f.fecha <= TIMESTAMP '{as_of}' AS k_date, f.status_transaccion = 'EXITOSA' AS k_status
FROM fact f LEFT JOIN dim d USING (id_atm);
CREATE OR REPLACE VIEW clean AS
SELECT *, CAST(fecha AS DATE) AS fecha_dia FROM joined
WHERE coalesce(k_fk AND k_amount AND k_date AND k_status, false);
"""

_DQ = """
SELECT count(*) AS total_rows,
       sum(CASE WHEN coalesce(k_fk, false) THEN 0 ELSE 1 END) AS null_fk_violations,
       sum(CASE WHEN coalesce(k_amount, false) THEN 0 ELSE 1 END)
           AS non_positive_amount_violations,
       sum(CASE WHEN coalesce(k_date, false) THEN 0 ELSE 1 END) AS future_date_violations,
       sum(CASE WHEN coalesce(k_status, false) THEN 0 ELSE 1 END) AS failed_status_violations,
       sum(CASE WHEN coalesce(k_fk AND k_amount AND k_date AND k_status, false)
                THEN 1 ELSE 0 END) AS clean_rows
FROM joined
"""

_GOLD = {
    "dim_atms": """
        SELECT DISTINCT id_atm, ubicacion, modelo, capacidad_maxima, latitud, longitud, estado
        FROM clean""",
    "rpt_diario_balance": """
        SELECT id_atm, fecha_dia, count(*) AS total_transacciones,
               sum(CASE WHEN tipo_movimiento = 'DEPOSITO' THEN monto ELSE 0 END)
                   AS total_depositos,
               sum(CASE WHEN tipo_movimiento = 'RETIRO' THEN monto ELSE 0 END) AS total_retiros,
               sum(CASE WHEN tipo_movimiento = 'DEPOSITO' THEN monto ELSE 0 END)
               - sum(CASE WHEN tipo_movimiento = 'RETIRO' THEN monto ELSE 0 END)
                   AS flujo_neto_dia
        FROM clean GROUP BY id_atm, fecha_dia""",
    "top_atms_ranking": """
        SELECT *, row_number() OVER (ORDER BY dinero_total_movido DESC, id_atm) AS ranking
        FROM (SELECT id_atm, ubicacion, modelo, count(*) AS total_transacciones,
                     CAST(sum(monto) AS DOUBLE) AS dinero_total_movido,
                     CAST(sum(monto) AS DOUBLE) / count(monto) AS monto_promedio
              FROM clean GROUP BY id_atm, ubicacion, modelo)""",
}


def check_medallion(
    con: duckdb.DuckDBPyConnection, raw: str, silver: str, gold: str, as_of: str,
    dq_report: dict,
) -> str | None:
    """DQ counts, clean + quarantined = total, and the three gold
    tables, all against DuckDB over the bronze lot."""
    con.execute(_BRONZE.format(raw=raw, as_of=as_of))
    want = con.execute(_DQ).df().iloc[0].to_dict()
    got = {k: dq_report.get(k) for k in want}
    if {k: int(v) for k, v in want.items()} != got:
        return f"dq counts {got} != {want}"
    n_clean = con.execute(
        f"SELECT count(*) FROM read_parquet('{silver}/transactions/*/*.parquet')").fetchone()[0]
    n_quar = con.execute(
        f"SELECT count(*) FROM read_parquet('{silver}/quarantine/*.parquet')").fetchone()[0]
    if n_clean + n_quar != want["total_rows"] or n_clean != want["clean_rows"]:
        return f"clean {n_clean} + quarantined {n_quar} != total {want['total_rows']}"
    for name, sql in _GOLD.items():
        got_df = con.execute(f"SELECT * FROM read_parquet('{gold}/{name}/*.parquet')").df()
        why = same_rows(got_df, con.execute(sql).df())
        if why:
            return f"gold {name}: {why}"
    return None


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)
