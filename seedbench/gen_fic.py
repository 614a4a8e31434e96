"""Seeded FIC monthly-drop generator with the truth the checks compare against.

A drop is one reference-layout folder ``json_raw_<YYYY>_<MM>/`` holding one
pretty-printed ``<bank>_<fund>_raw.json`` per fund, plus the ``fics.json``
URL lookup. Earlier months are staged as silver history. The generator mixes the shapes the transform normalizes:

- participation arrays in fractional scale, in x100 scale, and as
  ``"66,96%"``-style strings;
- return/volatility horizons in fraction and in percent;
- ``fecha_corte`` and ``fecha_inicio_operaciones`` as ISO, ``dd/mm/yyyy``
  and ``dd-<mes>-yyyy`` with Spanish month names;
- monetary values scaled by 1000^k;
- a few documents per drop whose ``fecha_corte`` names another month, so
  the date-consistency gate must put them on the skip list.

Every value the checks need is computed here in plain Python, never read
back from a run, so the truth holds for any seed.
"""

from __future__ import annotations

import json
import os
import random

BANKS = {  # filename token -> fics.json key
    "bancolombia": "bancolombia",
    "davivienda": "davivienda",
    "bbva": "bbva",
    "credicorpcapital": "credicorpCapital",
    "bancodebogota": "bancoDeBogota",
}
WORDS = [
    "renta", "liquidez", "vista", "plus", "global", "estable", "dinamico",
    "ahorro", "futuro", "capital", "horizonte", "valor", "premium", "sostenible",
]
POLICIES = [
    "inversion en renta fija, bonos y cdt de deuda publica",
    "acciones y renta variable en mercado accionario con dividendos",
    "portafolio balanceado y diversificado, renta fija y variable",
    "inmobiliario, commodities y derivados para cobertura",
    "politica generica sin clase declarada",
]
AGENCIES = ["Fitch Ratings Colombia", "BRC Investor Services", "Value and Risk", "S&P"]
MESES = ["ene", "feb", "mar", "abr", "may", "jun", "jul", "ago", "sep", "oct", "nov", "dic"]
CATEGORIES = {  # composicion array -> its key field
    "por_activo": "activo",
    "por_tipo_de_renta": "tipo",
    "por_sector_economico": "sector",
    "por_pais_emisor": "pais",
    "por_moneda": "moneda",
    "por_calificacion": "calificacion",
}
HORIZONS = [
    "ultimo_mes", "ultimos_6_meses", "anio_corrido",
    "ultimo_anio", "ultimos_2_anios", "ultimos_3_anios",
]
DAYS_IN_MONTH = [31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31]
PRESENCE = 0.9  # share of funds that file a sheet in a month
MISMATCH_RATE = 0.08  # share of sheets whose fecha_corte names another month


def _iso(y: int, m: int, d: int) -> str:
    return f"{y:04d}-{m:02d}-{d:02d}"


def _fmt_date(rng: random.Random, y: int, m: int, d: int) -> str:
    k = rng.randrange(3)
    if k == 0:
        return _iso(y, m, d)
    if k == 1:
        return f"{d:02d}/{m:02d}/{y:04d}"
    return f"{d:02d}-{MESES[m - 1]}-{y:04d}"


def _shares(rng: random.Random, n: int) -> list[float]:
    """n fractional shares of whole basis points (each >= 2%) summing to 1."""
    cuts = sorted(rng.sample(range(1, 50), n - 1)) if n > 1 else []
    bounds = [0] + cuts + [50]
    return [(b - a) * 200 / 10000 for a, b in zip(bounds, bounds[1:])]


def _participation(rng: random.Random, key: str, labels: list[str], n: int):
    """One participation array in a random scale, and its normalized truth."""
    shares = _shares(rng, n)
    scale = rng.choice(["frac", "x100", "text"])
    arr, truth = [], []
    for label, p in zip(rng.sample(labels, n), shares):
        if scale == "frac":
            v = p
        elif scale == "x100":
            v = round(p * 100, 2)
        else:
            v = f"{p * 100:.2f}".replace(".", ",") + "%"
        arr.append({key: label, "participacion": v})
        truth.append((label, p))
    return arr, truth


def _horizon_value(rng: random.Random) -> tuple[float, float]:
    if rng.random() < 0.5:
        v = round(rng.uniform(1.5, 15.0), 2)  # percent -> divided by 100
        return v, v / 100.0
    v = round(rng.uniform(0.0, 0.95), 4)  # already a fraction
    return v, v


def _descale(v: float) -> float:
    while v > 1_000_000.0:
        v = v / 1000.0
    return round(v, 2)


def _document(rng: random.Random, fund: dict, y: int, m: int, mismatch: bool):
    """One raw fact sheet for ``fund`` in drop (y, m) and its truth."""
    if mismatch:  # the sheet claims the previous month: the gate must skip it
        y, m = (y, m - 1) if m > 1 else (y - 1, 12)
    d = DAYS_IN_MONTH[m - 1]
    labels = [f"item{i}" for i in range(12)]
    plazos, plazo_truth = _participation(rng, "plazo", labels, rng.randint(2, 5))
    comp, comp_truth = {}, {}
    for name, key in CATEGORIES.items():
        comp[name], comp_truth[name] = _participation(rng, key, labels, rng.randint(1, 4))
    inv, inv_truth = _participation(rng, "emisor", labels, rng.randint(3, 8))
    rv, rv_truth = [], []
    for t in range(rng.randint(1, 3)):
        sides, side_truth = {}, {}
        for side in ("rentabilidad_historica_ea", "volatilidad_historica"):
            pairs = [_horizon_value(rng) for _ in HORIZONS]
            sides[side] = {h: raw for h, (raw, _) in zip(HORIZONS, pairs)}
            side_truth[side] = [norm for _, norm in pairs]
        rv.append({"tipo_de_participacion": f"Tipo {'ABCD'[t]}", **sides})
        rv_truth.append((f"Tipo {'ABCD'[t]}", side_truth))
    base = round(rng.uniform(1001.0, 999_999.0), 2)
    valor = base * 1000.0 ** rng.randint(0, 3)
    sy, sm, sd = rng.randint(1995, 2019), rng.randint(1, 12), rng.randint(1, 28)
    doc = {
        "fic": {
            "nombre_fic": fund["nombre"],
            "gestor": f"Fiduciaria {fund['bank']} S.A.",
            "custodio": "Custodio Nacional",
            "fecha_corte": _fmt_date(rng, y, m, d),
            "politica_de_inversion": rng.choice(POLICIES),
        },
        "plazo_duracion": plazos,
        "composicion_portafolio": comp,
        "caracteristicas": {
            "tipo": "Abierto sin pacto de permanencia",
            "valor": valor,
            "fecha_inicio_operaciones": _fmt_date(rng, sy, sm, sd),
            "no_unidades_en_circulacion": float(rng.randint(1000, 10**7)),
        },
        "calificacion": {
            "calificacion": "S1/AAAf(col)",
            "fecha_ultima_calificacion": _fmt_date(rng, 2024, rng.randint(1, 12), 15),
            "entidad_calificadora": rng.choice(AGENCIES),
        },
        "principales_inversiones": inv,
        "rentabilidad_volatilidad": rv,
    }
    truth = {
        "fecha_corte": _iso(y, m, d),
        "fecha_inicio_operaciones": _iso(sy, sm, sd),
        "valor": _descale(valor),
        "plazo": plazo_truth,
        "composicion": comp_truth,
        "inversiones": inv_truth,
        "rv": rv_truth,
    }
    return doc, truth


def _silver(doc: dict, truth: dict, fund: dict, fname: str, y: int, m: int) -> dict:
    """The transform's output for ``doc``, as an earlier month's silver row."""
    def arr(key: str, pairs):
        return [{key: label, "participacion": p} for label, p in pairs]

    rv = [
        {"tipo_de_participacion": tipo,
         **{side: dict(zip(HORIZONS, vals)) for side, vals in sides.items()}}
        for tipo, sides in truth["rv"]
    ]
    return {
        "fic": dict(doc["fic"], fecha_corte=truth["fecha_corte"], tipo="Desconocido",
                    url=fund["url"]),
        "plazo_duracion": arr("plazo", truth["plazo"]),
        "composicion_portafolio": {
            name: arr(key, truth["composicion"][name]) for name, key in CATEGORIES.items()
        },
        "caracteristicas": dict(doc["caracteristicas"], valor=truth["valor"],
                                fecha_inicio_operaciones=truth["fecha_inicio_operaciones"]),
        "calificacion": dict(doc["calificacion"], entidad_calificadora_normalizada=True),
        "principales_inversiones": arr("emisor", truth["inversiones"]),
        "rentabilidad_volatilidad": rv,
        "_filename": fname,
        "banco": fund["bank"],
        "fondo": fund["slug"],
        "anio": f"{y:04d}",
        "mes": f"{m:02d}",
    }


def _funds(rng: random.Random, n: int) -> list[dict]:
    out = []
    for i in range(n):
        bank = list(BANKS)[i % len(BANKS)]
        slug = f"fondo-{rng.choice(WORDS)}-{rng.choice(WORDS)}-{i:04d}"
        out.append({
            "bank": bank,
            "slug": slug,
            "nombre": slug.replace("-", " ").title(),
            "url": f"https://fics.example/{bank}/{slug}",
        })
    return out


def month_of(index: int) -> tuple[int, int]:
    """The ``index``-th month from January 2023."""
    return 2023 + index // 12, index % 12 + 1


def generate(seed: int, out_dir: str, n_funds: int, n_months: int) -> dict:
    """Stage ``n_months - 1`` months of silver history and the newest
    month as a raw drop under ``out_dir``, plus the ``fics.json`` lookup.

    History months are written in the transform's output layout, as the
    earlier monthly runs would have left them under ``silver/``; the
    newest month is the drop a run transforms and loads. Returns the
    truth: per month its documents and planted skips, and the paths.
    """
    rng = random.Random(seed)
    funds = _funds(rng, n_funds)
    lookup: dict[str, dict[str, str]] = {}
    for f in funds:
        lookup.setdefault(BANKS[f["bank"]], {})[f["slug"]] = f["url"]
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "fics.json"), "w") as fh:
        json.dump(lookup, fh, indent=2, sort_keys=True)
    months = []
    for k in range(n_months):
        y, m = month_of(k)
        is_drop = k == n_months - 1
        folder = os.path.join(out_dir, "bronze" if is_drop else "silver",
                              f"json_raw_{y:04d}_{m:02d}")
        os.makedirs(folder, exist_ok=True)
        docs, skipped, silver_rows = {}, [], []
        for f in funds:
            if rng.random() >= PRESENCE:
                continue
            mismatch = rng.random() < MISMATCH_RATE
            doc, truth = _document(rng, f, y, m, mismatch)
            fname = f"{f['bank']}_{f['slug']}_raw.json"
            if mismatch:
                skipped.append(fname)
                if not is_drop:
                    continue  # an earlier month's run already skipped it
            else:
                docs[f["nombre"]] = dict(truth, url=f["url"], filename=fname)
            if is_drop:
                with open(os.path.join(folder, fname), "w") as fh:
                    json.dump(doc, fh, indent=2, ensure_ascii=False)
            else:
                silver_rows.append(_silver(doc, truth, f, fname, y, m))
        if not is_drop:
            with open(os.path.join(folder, "part-00000.json"), "w") as fh:
                for row in silver_rows:
                    fh.write(json.dumps(row, ensure_ascii=False) + "\n")
        months.append({"folder": folder, "valid": docs, "skipped": sorted(skipped),
                       "month": f"{y:04d}_{m:02d}"})
    return {
        "months": months,
        "drop": months[-1],
        "lookup": os.path.join(out_dir, "fics.json"),
        "silver": os.path.join(out_dir, "silver"),
    }


def gold_truth(truth: dict) -> dict:
    """Expected gold state after the newest drop is loaded: for each fund,
    its document from the latest month in which it had a valid sheet."""
    latest: dict[str, dict] = {}
    for month in truth["months"]:
        latest.update(month["valid"])
    return latest
