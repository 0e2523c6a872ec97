"""Output checks: every answer the benchmark times is compared, outside
the timed region, with an independent DuckDB twin over the same parquet
files (or, for the load, with the generator's planted counts).  Each
check returns a list of mismatch messages; an empty list is a pass.

Float comparison rule: values agree when they are equal up to 1e-9
relative, or when they differ by exactly one unit in the last decimal
either side shows — a ROUND() boundary that the two engines' summation
orders put on different sides.  Anything larger is a mismatch.
"""

from __future__ import annotations

import json
import math
import re
from collections import defaultdict
from datetime import date, datetime
from decimal import Decimal
from pathlib import Path

import duckdb
import numpy as np

# ── value and row comparison ───────────────────────────────────────


def _decimals(x: float) -> int:
    r = repr(float(x))
    if "e" in r or "E" in r:
        return 12
    return len(r.split(".")[1].rstrip("0")) if "." in r else 0


def values_match(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, bool) or isinstance(b, bool):
        return bool(a) == bool(b)
    if isinstance(a, (int, float, Decimal, np.number)) and isinstance(
        b, (int, float, Decimal, np.number)
    ):
        fa, fb = float(a), float(b)
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        if math.isclose(fa, fb, rel_tol=1e-9, abs_tol=1e-12):
            return True
        unit = 10.0 ** -max(_decimals(fa), _decimals(fb))
        return math.isclose(abs(fa - fb), unit, rel_tol=1e-6)
    if isinstance(a, datetime) or isinstance(b, datetime):
        return str(a) == str(b)
    if isinstance(a, date) or isinstance(b, date):
        return str(a)[:10] == str(b)[:10]
    return str(a) == str(b)


def _exact_key(row: dict, cols: list[str]) -> tuple:
    """The non-float part of a row: rows can only match inside a
    bucket of equal exact keys."""
    return tuple(
        None if isinstance(row[c], float) else repr(row[c])
        for c in cols
        if not isinstance(row[c], (float, Decimal))
    )


def _row_match(a: dict, b: dict, cols: list[str]) -> bool:
    return all(values_match(a[c], b[c]) for c in cols)


def match_rows(actual: list[dict], expected: list[dict], subset: bool = False) -> list[str]:
    """Order-insensitive multiset comparison.  With ``subset`` every
    actual row must match a distinct expected row, but expected rows
    may be left over."""
    if not subset and len(actual) != len(expected):
        return [f"row count {len(actual)} != expected {len(expected)}"]
    if not actual:
        return []
    cols = sorted(actual[0])
    if expected and sorted(expected[0]) != cols:
        return [f"columns {cols} != expected {sorted(expected[0])}"]
    buckets: dict[tuple, list[dict]] = defaultdict(list)
    for r in expected:
        buckets[_exact_key(r, cols)].append(r)
    for r in actual:
        pool = buckets.get(_exact_key(r, cols), [])
        hit = next((i for i, e in enumerate(pool) if _row_match(r, e, cols)), None)
        if hit is None:
            return [f"row {r} has no match in the twin"]
        pool.pop(hit)
    return []


def match_top_n(
    actual: list[dict], full: list[dict], sort_col: str, n: int
) -> list[str]:
    """A ``ORDER BY sort_col DESC LIMIT n`` answer against the twin's
    full (un-limited) result: ties at the cut make the chosen rows
    engine-dependent, so require the right sort-key multiset and that
    every returned row is a real row of the full result."""
    want = min(n, len(full))
    if len(actual) != want:
        return [f"top-{n}: {len(actual)} rows, expected {want}"]
    desc = lambda v: math.inf if v is None else -float(v)  # noqa: E731
    got_keys = sorted((r[sort_col] for r in actual), key=desc)
    exp_keys = sorted((r[sort_col] for r in full), key=desc)[:want]
    for g, e in zip(got_keys, exp_keys):
        if not values_match(g, e):
            return [f"top-{n} {sort_col} keys {got_keys} != {exp_keys}"]
    return match_rows(actual, full, subset=True)


def duck_rows(con: duckdb.DuckDBPyConnection, sql: str) -> list[dict]:
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    return [dict(zip(names, r)) for r in cur.fetchall()]


def parquet_files(table_dir: Path) -> list[str]:
    """The files Spark reads for a table directory: parquet parts, not
    under any ``_`` or ``.`` prefixed (hidden/staging) component."""
    out = []
    for p in sorted(Path(table_dir).rglob("*.parquet")):
        rel = p.relative_to(table_dir).parts
        if p.is_file() and not any(x.startswith(("_", ".")) for x in rel):
            out.append(str(p))
    return out


def _view(con, name: str, files: list[str], hive: bool = False) -> None:
    flist = ", ".join(f"'{f}'" for f in files)
    con.execute(
        f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet([{flist}]"
        f", hive_partitioning={'true' if hive else 'false'}, union_by_name=true)"
    )


# ── weekly load ────────────────────────────────────────────────────


def silver_files(lake: Path, dataset: str, sink: str, cut: str | None = None) -> list[str]:
    base = Path(lake) / "processed" / "dtpm" / f"dataset={dataset}"
    dirs = sorted(base.glob(f"year=*/month=*/cut={cut or '*'}/{sink}"))
    return [f for d in dirs for f in parquet_files(d)]


# the fact grain over a cut's silver rows ``s``: one row per business
# key; cash trips and boardings without a current stop or known mode out
FACT_GRAIN = {
    "fct_trip": """SELECT count(*) FROM (SELECT DISTINCT id_tarjeta, id_viaje
        FROM s WHERE id_tarjeta IS NOT NULL)""",
    "fct_trip_leg": """SELECT count(*) FROM (SELECT DISTINCT id_tarjeta, id_viaje, leg_seq
        FROM s WHERE id_tarjeta IS NOT NULL AND (ts_board IS NOT NULL
        OR board_stop_code IS NOT NULL OR mode_code IS NOT NULL))""",
    "fct_validation": """SELECT count(*) FROM (SELECT DISTINCT id_etapa, tiempo_subida FROM s)""",
    "fct_boardings_30m": """SELECT count(*) FROM (SELECT DISTINCT stop_code, time_30m_sk, mode_code, tipo_dia
        FROM s WHERE stop_code IN (SELECT stop_code FROM dim_stop WHERE is_current)
        AND mode_code IN (SELECT mode_code FROM dim_mode))""",
}


def check_load(batch, lake: Path, gold: Path, rerun_status: str) -> list[str]:
    """Silver quality.json against the planted defects, silver row
    counts against quality.json, gold facts against silver, one OK
    run-log row per cut, and a SKIPPED re-run."""
    errs: list[str] = []
    con = duckdb.connect()
    count = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
    _view(con, "run_log", parquet_files(Path(gold) / "etl_run_log"))
    _view(con, "dim_cut", parquet_files(Path(gold) / "dim_cut"))
    facts = {
        "viajes": [("fct_trip", "viajes_trip.parquet"),
                   ("fct_trip_leg", "viajes_leg.parquet")],
        "etapas": [("fct_validation", "etapas_validation.parquet")],
        "subidas_30m": [("fct_boardings_30m", "subidas_30m.parquet")],
    }  # fmt: skip
    for t in {t for v in facts.values() for t, _ in v}:
        _view(con, t, parquet_files(Path(gold) / t), hive=True)
    for t in ("dim_stop", "dim_mode"):
        _view(con, t, parquet_files(Path(gold) / t))
    for c in batch.cuts:
        tag = f"{c.dataset}/{c.cut}"
        qdir = (
            Path(lake) / "processed" / "_quality" / f"dataset={c.dataset}"
            / "year=2025" / "month=04" / f"cut={c.cut}" / "quality.json"
        )  # fmt: skip
        if not qdir.exists():
            errs.append(f"{tag}: no quality.json")
            continue
        q = json.loads(qdir.read_text())
        got = {d["_reason_code"]: d["cnt"] for d in q["quarantine_reason_distribution"]}
        if got != c.expected_quarantine:
            errs.append(f"{tag}: quarantine {got} != planted {c.expected_quarantine}")
        if q["read_row_count"] != c.rows:
            errs.append(f"{tag}: read {q['read_row_count']} rows, generated {c.rows}")
        valid = c.rows - sum(c.expected_quarantine.values())
        if q["valid_row_count"] != valid:
            errs.append(f"{tag}: valid_row_count {q['valid_row_count']} != {valid}")
        log = con.execute(
            "SELECT status, rows_staged, rows_inserted FROM run_log "
            f"WHERE dataset = '{c.dataset}' AND cut = '{c.cut}'"
        ).fetchall()
        if [r[0] for r in log] != ["OK"]:
            errs.append(f"{tag}: etl_run_log statuses {[r[0] for r in log]} != ['OK']")
            continue
        cut_sk = count(
            f"SELECT cut_sk FROM dim_cut WHERE dataset_name = '{c.dataset}' AND cut_id = '{c.cut}'"
        )
        staged, inserted = 0, 0
        for table, sink in facts[c.dataset]:
            _view(con, "s", silver_files(lake, c.dataset, sink, c.cut))
            n_silver = count("SELECT count(*) FROM s")
            staged += n_silver
            n_fact = count(f"SELECT count(*) FROM {table} WHERE cut_sk = {cut_sk}")
            inserted += n_fact
            if sink == "viajes_trip.parquet" and n_silver != valid:
                errs.append(f"{tag}: silver trips {n_silver} != valid {valid}")
            if c.dataset != "viajes" and n_silver != valid:
                errs.append(f"{tag}: silver rows {n_silver} != valid {valid}")
            want = count(FACT_GRAIN[table])
            if n_fact != want:
                errs.append(f"{tag}: {table} has {n_fact} rows, silver grain {want}")
        if (log[0][1], log[0][2]) != (staged, inserted):
            errs.append(
                f"{tag}: run log staged/inserted {log[0][1:]} != silver/gold {(staged, inserted)}"
            )
    if rerun_status != "SKIPPED":
        errs.append(f"re-run of an OK cut returned {rerun_status}, not SKIPPED")
    con.close()
    return errs


# ── portal serving twin ────────────────────────────────────────────

SILVER_SINKS = {
    "trips": ("viajes", "viajes_trip.parquet"),
    "etapas": ("etapas", "etapas_validation.parquet"),
    "subidas": ("subidas_30m", "subidas_30m.parquet"),
}


def serving_twin(lake: Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for view, (ds, sink) in SILVER_SINKS.items():
        _view(con, view, silver_files(lake, ds, sink))
    return con


def _sql_list(vals) -> str:
    return ", ".join(f"'{v}'" for v in vals)


def _where(req: dict, *, month_cut=False, day=None, mode=None, hour=None) -> str:
    conds = ["TRUE"]
    cf, ct = req.get("cut_from"), req.get("cut_to")
    if month_cut:
        cf, ct = (cf[:7] if cf else None), (ct[:7] if ct else None)
    if cf:
        conds.append(f"cut >= '{cf}'")
    if ct:
        conds.append(f"cut <= '{ct}'")
    if day and req.get("tipo_dia"):
        conds.append(f"{day} IN ({_sql_list(req['tipo_dia'])})")
    if mode and req.get("mode"):
        conds.append(f"{mode} IN ({_sql_list(req['mode'])})")
    if hour and req.get("hour_from") is not None:
        conds.append(f"floor({hour} / 2) >= {req['hour_from']}")
    if hour and req.get("hour_to") is not None:
        conds.append(f"floor({hour} / 2) <= {req['hour_to']}")
    return " AND ".join(conds)


def _utm19s_to_wgs84(x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Inverse transverse Mercator, WGS84, zone 19 south (USGS PP 1395
    series)."""
    a, f, k0 = 6378137.0, 1 / 298.257223563, 0.9996
    e2 = f * (2 - f)
    ep2 = e2 / (1 - e2)
    e1 = (1 - math.sqrt(1 - e2)) / (1 + math.sqrt(1 - e2))
    xx = np.asarray(x, float) - 500000.0
    mu = (np.asarray(y, float) - 10000000.0) / k0 / (
        a * (1 - e2 / 4 - 3 * e2**2 / 64 - 5 * e2**3 / 256)
    )
    phi = (mu + (1.5 * e1 - 27 / 32 * e1**3) * np.sin(2 * mu)
           + (21 / 16 * e1**2 - 55 / 32 * e1**4) * np.sin(4 * mu)
           + 151 / 96 * e1**3 * np.sin(6 * mu)
           + 1097 / 512 * e1**4 * np.sin(8 * mu))  # fmt: skip
    s, c, t = np.sin(phi), np.cos(phi), np.tan(phi)
    cc, tt = ep2 * c**2, t**2
    n = a / np.sqrt(1 - e2 * s**2)
    r = a * (1 - e2) / (1 - e2 * s**2) ** 1.5
    d = xx / (n * k0)
    lat = phi - n * t / r * (
        d**2 / 2 - (5 + 3 * tt + 10 * cc - 4 * cc**2 - 9 * ep2) * d**4 / 24
        + (61 + 90 * tt + 298 * cc + 45 * tt**2 - 252 * ep2 - 3 * cc**2) * d**6 / 720
    )  # fmt: skip
    lon = (d - (1 + 2 * tt + cc) * d**3 / 6
           + (5 - 2 * cc + 28 * tt - 3 * cc**2 + 8 * ep2 + 24 * tt**2) * d**5 / 120) / c  # fmt: skip
    return np.degrees(lat), np.degrees(lon) - 69.0


def check_request(con, req: dict, rows: list[dict]) -> list[str]:
    """One portal answer against the twin.  ``req`` is the request as
    sent (query_type + filters + limit)."""
    qt = req["query_type"]
    ew = dict(day="tipo_dia", mode="tipo_transporte", hour="time_board_30m_sk")
    sw = dict(month_cut=True, day="tipo_dia", mode="mode_code", hour="time_30m_sk")
    if qt == "overview":
        exp = duck_rows(con, f"""
            SELECT v.*, e.*, s.* FROM
            (SELECT count(*) AS viajes_observados,
                    coalesce(round(sum(factor_expansion), 2), 0.0) AS viajes_estimados
             FROM trips WHERE {_where(req)}) v,
            (SELECT count(*) AS etapas_observadas,
                    coalesce(round(sum(fExpansionServicioPeriodoTS), 2), 0.0) AS etapas_estimadas
             FROM etapas WHERE {_where(req, **ew)}) e,
            (SELECT coalesce(round(sum(subidas_promedio), 2), 0.0) AS subidas_promedio_total
             FROM subidas WHERE {_where(req, **sw)}) s""")
        return match_rows(rows, exp)
    if qt in ("demand_by_day_type", "demand_by_mode"):
        key = "tipo_dia" if qt == "demand_by_day_type" else "tipo_transporte AS mode_code"
        where = _where(req, mode="tipo_transporte", hour="time_board_30m_sk") \
            if qt == "demand_by_day_type" else _where(req, **ew)
        exp = duck_rows(con, f"""
            SELECT {key}, count(*) AS etapas_observadas,
                   round(sum(fExpansionServicioPeriodoTS), 2) AS etapas_estimadas
            FROM etapas WHERE {where} GROUP BY ALL""")
        return match_rows(rows, exp)
    if qt == "top_boardings":
        full = duck_rows(con, f"""
            SELECT stop_code, comuna, mode_code,
                   round(sum(subidas_promedio), 2) AS subidas_promedio_total
            FROM subidas WHERE {_where(req, **sw)} GROUP BY ALL""")
        return match_top_n(rows, full, "subidas_promedio_total", req.get("limit", 20))
    if qt == "map_points":
        full = duck_rows(con, f"""
            WITH b AS (
                SELECT cut AS service_date, CAST(floor(time_30m_sk / 2) AS INT) AS hour_of_day,
                       tipo_dia, mode_code, stop_code,
                       list_distinct(list(comuna)) AS comunas,
                       round(sum(subidas_promedio), 2) AS etapas_estimadas,
                       count(*) AS etapas_observadas
                FROM subidas WHERE {_where(req, **sw)} GROUP BY ALL),
            side AS (
                SELECT parada_subida AS stop_code, CAST(x_subida AS DOUBLE) AS x,
                       CAST(y_subida AS DOUBLE) AS y FROM etapas
                WHERE parada_subida IS NOT NULL AND trim(parada_subida) <> ''
                  AND x_subida BETWEEN 200000 AND 500000 AND y_subida BETWEEN 6200000 AND 6350000
                UNION ALL
                SELECT parada_bajada, CAST(x_bajada AS DOUBLE), CAST(y_bajada AS DOUBLE) FROM etapas
                WHERE parada_bajada IS NOT NULL AND trim(parada_bajada) <> ''
                  AND x_bajada BETWEEN 200000 AND 500000 AND y_bajada BETWEEN 6200000 AND 6350000),
            modal AS (
                SELECT stop_code, x, y FROM (
                    SELECT stop_code, x, y, row_number() OVER (
                        PARTITION BY stop_code ORDER BY count(*) DESC, x, y) AS rn
                    FROM side GROUP BY stop_code, x, y) WHERE rn = 1)
            SELECT b.*, m.x, m.y FROM b JOIN modal m USING (stop_code)""")
        if full:
            lat, lon = _utm19s_to_wgs84(
                np.array([r.pop("x") for r in full]), np.array([r.pop("y") for r in full])
            )
            for r, la, lo in zip(full, lat, lon):
                r["lat"], r["lon"] = float(round(la, 6)), float(round(lo, 6))
        # any_value(comuna) may pick any of the group's comunas
        comunas = {}
        for r in full:
            comunas[(r["service_date"], r["hour_of_day"], r["tipo_dia"],
                     r["mode_code"], r["stop_code"])] = set(r.pop("comunas"))  # fmt: skip
        errs = []
        for r in rows:
            k = (r["service_date"], r["hour_of_day"], r["tipo_dia"], r["mode_code"], r["stop_code"])
            if r["comuna"] not in comunas.get(k, ()):
                errs.append(f"map point {k}: comuna {r['comuna']!r} not in its group")
                break
        strip = [{k: v for k, v in r.items() if k != "comuna"} for r in rows]
        # projected coordinates agree to ~1e-6 deg, not to the last digit
        for r in strip + full:
            r["lat"], r["lon"] = round(r["lat"], 4), round(r["lon"], 4)
        return errs + match_top_n(strip, full, "etapas_estimadas", req.get("limit", 400))
    return [f"unknown query type {qt}"]


# ── analytics twin ─────────────────────────────────────────────────

GOLD_HIVE = {"fct_trip", "fct_trip_leg", "fct_validation", "fct_boardings_30m"}
TOP_N = {  # LIMIT queries: sort column, n
    "q2_critical_stops": ("subidas_promedio_dia", 20),
    "q3_od_matrix": ("demanda_expandida", 30),
    "q5_slow_services": ("min_por_km", 20),
}


def analytics_twin(gold: Path, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        _view(con, t, parquet_files(Path(gold) / t), hive=t in GOLD_HIVE)
    return con


def to_duckdb_sql(spark_sql: str) -> str:
    """The corpus is portable SQL except for Spark's double literal
    suffix and ``percentile``."""
    sql = re.sub(r"(\d+\.\d+)D\b", r"CAST(\1 AS DOUBLE)", spark_sql)
    return sql.replace("percentile(", "quantile_cont(")


def check_query(con, name: str, sql: str, rows: list[dict]) -> list[str]:
    sql = to_duckdb_sql(sql)
    if name in TOP_N:
        col, n = TOP_N[name]
        full = duck_rows(con, re.sub(r"LIMIT\s+\d+\s*$", "", sql.strip()))
        return match_top_n(rows, full, col, n)
    exp = duck_rows(con, sql)
    if name == "q8_territorial_quartiles":
        # NTILE over tied keys may bucket the tied rows either way:
        # compare the rows without the bucket, the bucket sizes, and
        # the bucket of every row whose key is unique
        ranked = ("cuartil_cobertura", "categoria")
        strip = lambda rs: [{k: v for k, v in r.items() if k not in ranked} for r in rs]  # noqa: E731
        errs = match_rows(strip(rows), strip(exp))
        size = lambda rs: sorted((r["cuartil_cobertura"], r["categoria"]) for r in rs)  # noqa: E731
        if size(rows) != size(exp):
            errs.append("q8 quartile sizes differ")
        keys = [r["subidas_por_parada"] for r in exp]
        unique = {
            r["comuna"]: r["cuartil_cobertura"] for r in exp if keys.count(r["subidas_por_parada"]) == 1
        }
        for r in rows:
            if r["comuna"] in unique and unique[r["comuna"]] != r["cuartil_cobertura"]:
                errs.append(f"q8 {r['comuna']} quartile {r['cuartil_cobertura']}")
        return errs
    return match_rows(rows, exp)
