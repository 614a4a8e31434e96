"""Output checks. Each returns a list of problems; an empty list means correct.

FIC outputs are compared with the truth ``gen_fic`` returns for the seed.
Registry outputs are compared with the query's DuckDB twin run on the same
generated files, normalized as the repository's verify sweep does.
"""

from __future__ import annotations

import glob
import json
import math
import os
from collections import Counter

import pyarrow.parquet as pq

from gen_fic import CATEGORIES, HORIZONS

TAGS = {  # composicion array -> gold tipo_composicion
    "por_activo": "activo",
    "por_tipo_de_renta": "tipo_renta",
    "por_sector_economico": "sector_economico",
    "por_pais_emisor": "pais_emisor",
    "por_moneda": "moneda",
    "por_calificacion": "calificacion",
}
GOLD_TABLES = [
    "fic", "composicion_portafolio", "plazo_duracion", "caracteristicas", "calificacion",
    "principales_inversiones", "rentabilidad_historica", "volatilidad_historica", "raw_json",
]


def _num(v) -> float | None:
    return None if v is None else float(v)


def _close(a, b, tol: float) -> bool:
    return a is not None and b is not None and abs(a - b) <= tol


def silver_filenames(silver_dir: str) -> list[str]:
    """``_filename`` of every row the transform wrote for one drop."""
    names = []
    for part in sorted(glob.glob(os.path.join(silver_dir, "part-*"))):
        with open(part) as fh:
            names += [json.loads(line)["_filename"] for line in fh if line.strip()]
    return names


def check_transform(report: dict, silver_dir: str, drop: dict) -> list[str]:
    """The CLI's counts and the silver it wrote against the planted skips."""
    problems = []
    want_valid = sorted(d["filename"] for d in drop["valid"].values())
    if report.get("valid") != len(want_valid) or report.get("skipped") != len(drop["skipped"]):
        problems.append(f"transform counts {report} != valid {len(want_valid)}, "
                        f"skipped {len(drop['skipped'])}")
    got = sorted(silver_filenames(silver_dir))
    if got != want_valid:
        problems.append(f"silver holds {len(got)} documents; planted skips leaked or "
                        f"valid documents lost ({len(want_valid)} expected)")
    return problems


def expected_counts(latest: dict) -> dict[str, int]:
    n = len(latest)
    rv = sum(len(d["rv"]) for d in latest.values())
    return {
        "fic": n,
        "composicion_portafolio": sum(
            len(arr) for d in latest.values() for arr in d["composicion"].values()),
        "plazo_duracion": sum(len(d["plazo"]) for d in latest.values()),
        "caracteristicas": n,
        "calificacion": n,
        "principales_inversiones": sum(len(d["inversiones"]) for d in latest.values()),
        "rentabilidad_historica": rv,
        "volatilidad_historica": rv,
        "raw_json": n,
    }


def _pairs_match(got: list[tuple], want: list[tuple], tol: float = 1e-9) -> bool:
    """Equal multisets of (label..., value) tuples, values within ``tol``."""
    if len(got) != len(want):
        return False
    for g, w in zip(sorted(got, key=lambda t: t[:-1]), sorted(want, key=lambda t: t[:-1])):
        if g[:-1] != w[:-1] or not _close(g[-1], w[-1], tol):
            return False
    return True


def check_gold(gold_dir: str, latest: dict) -> list[str]:
    """Gold tables after a load against the truth for the latest documents.

    Checks one ``fic`` row per fund at its latest valid month, each table's
    row count, normalized percentage scales and descaled values, and ISO
    dates parsed from the mixed input formats.
    """
    problems = []
    tables = {}
    for name in GOLD_TABLES:
        path = os.path.join(gold_dir, name)
        if not os.path.isdir(path):
            return [f"gold table {name} missing"]
        tables[name] = pq.read_table(path).to_pylist()
    for name, n in expected_counts(latest).items():
        if len(tables[name]) != n:
            problems.append(f"gold {name}: {len(tables[name])} rows, expected {n}")
    fund_of = {}
    for row in tables["fic"]:
        want = latest.get(row["nombre_fic"])
        if want is None:
            problems.append(f"gold fic has unexpected fund {row['nombre_fic']!r}")
            continue
        if row["fic_id"] in fund_of:
            problems.append(f"duplicate fic_id for {row['nombre_fic']!r}")
        fund_of[row["fic_id"]] = row["nombre_fic"]
        if row["fecha_corte"] != want["fecha_corte"] or row["url"] != want["url"]:
            problems.append(f"fund {row['nombre_fic']!r}: fecha_corte/url "
                            f"{row['fecha_corte']}/{row['url']} != {want['fecha_corte']}/{want['url']}")
    if len(fund_of) != len(latest):
        problems.append(f"gold fic covers {len(fund_of)} funds, expected {len(latest)}")
    if problems:
        return problems

    def grouped(table: str, cols: list[str]) -> dict[str, list[tuple]]:
        out: dict[str, list[tuple]] = {name: [] for name in latest}
        for row in tables[table]:
            fund = fund_of.get(row["fic_id"])
            if fund is None:
                problems.append(f"gold {table} row with unknown fic_id")
                continue
            out[fund].append(tuple(row[c] for c in cols[:-1]) + (_num(row[cols[-1]]),))
        return out

    plazo = grouped("plazo_duracion", ["plazo", "participacion"])
    inv = grouped("principales_inversiones", ["emisor", "participacion"])
    comp = grouped("composicion_portafolio", ["tipo_composicion", "categoria", "participacion"])
    for fund, want in latest.items():
        if not _pairs_match(plazo[fund], want["plazo"]):
            problems.append(f"fund {fund!r}: plazo_duracion participations not normalized")
        if not _pairs_match(inv[fund], want["inversiones"]):
            problems.append(f"fund {fund!r}: principales_inversiones not normalized")
        want_comp = [(TAGS[name], label, p) for name in CATEGORIES
                     for label, p in want["composicion"][name]]
        if not _pairs_match(comp[fund], want_comp):
            problems.append(f"fund {fund!r}: composicion_portafolio not normalized")
    for row in tables["caracteristicas"]:
        want = latest[fund_of[row["fic_id"]]]
        if not _close(_num(row["valor"]), want["valor"], 0.006):
            problems.append(f"valor {row['valor']} != descaled {want['valor']}")
        if row["fecha_inicio_operaciones"] != want["fecha_inicio_operaciones"]:
            problems.append(f"fecha_inicio_operaciones {row['fecha_inicio_operaciones']!r} "
                            f"!= {want['fecha_inicio_operaciones']!r}")
    for table, side in (("rentabilidad_historica", "rentabilidad_historica_ea"),
                        ("volatilidad_historica", "volatilidad_historica")):
        got = grouped(table, ["tipo_participacion"] + HORIZONS)
        for fund, want in latest.items():
            rows = {r[0]: r for r in got[fund]}
            for tipo, sides in want["rv"]:
                row = rows.get(tipo)
                ok = row is not None and all(
                    _close(_num(v), w, 1e-9) for v, w in zip(row[1:], sides[side]))
                if not ok:
                    problems.append(f"fund {fund!r}: {table} {tipo} not normalized")
    return problems


def norm_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.12g}"
    return str(v)


def norm_rows(cols: list[str], rows) -> Counter:
    """Order-independent form of a result: a multiset of normalized rows
    with columns in name order."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(norm_cell(r[i]) for i in idx) for r in rows)


def check_query(cols: list[str], rows, twin: tuple[list[str], Counter]) -> list[str]:
    twin_cols, twin_rows = twin
    if sorted(cols) != sorted(twin_cols):
        return [f"columns {sorted(cols)} != twin {sorted(twin_cols)}"]
    got = norm_rows(cols, rows)
    if got != twin_rows:
        missing = sum((twin_rows - got).values())
        extra = sum((got - twin_rows).values())
        return [f"{sum(got.values())} rows vs twin {sum(twin_rows.values())}: "
                f"{missing} missing, {extra} unexpected"]
    return []
