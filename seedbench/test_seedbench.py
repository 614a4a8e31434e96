"""Tests of the benchmark itself (not of the library).

    python3 -m pytest seedbench/test_seedbench.py -q            # fast checks
    SEEDBENCH_E2E=1 python3 -m pytest seedbench/test_seedbench.py -q   # + full runs

The fast tests need no Spark: input regeneration, the checks against a
gold built from the truth, and the checks' response to planted faults.
The end-to-end tests run ``run.py`` on seeds that were not used while the
benchmark was written, and with a planted wrong output.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen_fic  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402

FRESH_SEEDS = [1013, 2027, 3041]
e2e = pytest.mark.skipif(not os.environ.get("SEEDBENCH_E2E"), reason="set SEEDBENCH_E2E=1")


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(root)):
        dirnames.sort()
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_same_seed_regenerates_identical_inputs(tmp_path):
    for k in ("a", "b"):
        gen_fic.generate(7, str(tmp_path / k / "fic"), **run.fic_sizes(7))
        gen_tables.generate(7, str(tmp_path / k / "tables"), scale=0.05)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    gen_fic.generate(8, str(tmp_path / "c" / "fic"), **run.fic_sizes(7))
    assert _digest(str(tmp_path / "a" / "fic")) != _digest(str(tmp_path / "c" / "fic"))


def _gold_from_truth(latest: dict, gold: str) -> None:
    """Write the gold tables a correct load would write for ``latest``."""
    tables = {name: [] for name in checks.GOLD_TABLES}
    for i, (fund, d) in enumerate(sorted(latest.items())):
        tables["fic"].append({"fic_id": i, "nombre_fic": fund, "fecha_corte": d["fecha_corte"],
                              "url": d["url"]})
        tables["raw_json"].append({"fic_id": i})
        tables["calificacion"].append({"fic_id": i})
        tables["caracteristicas"].append({
            "fic_id": i, "valor": str(d["valor"]),
            "fecha_inicio_operaciones": d["fecha_inicio_operaciones"]})
        tables["plazo_duracion"] += [{"fic_id": i, "plazo": k, "participacion": str(p)}
                                     for k, p in d["plazo"]]
        tables["principales_inversiones"] += [{"fic_id": i, "emisor": k, "participacion": str(p)}
                                              for k, p in d["inversiones"]]
        tables["composicion_portafolio"] += [
            {"fic_id": i, "tipo_composicion": checks.TAGS[name], "categoria": k,
             "participacion": str(p)}
            for name in gen_fic.CATEGORIES for k, p in d["composicion"][name]]
        for tipo, sides in d["rv"]:
            for table, side in (("rentabilidad_historica", "rentabilidad_historica_ea"),
                                ("volatilidad_historica", "volatilidad_historica")):
                tables[table].append({"fic_id": i, "tipo_participacion": tipo,
                                      **dict(zip(gen_fic.HORIZONS, sides[side]))})
    for name, rows in tables.items():
        os.makedirs(os.path.join(gold, name))
        pq.write_table(pa.Table.from_pylist(rows), os.path.join(gold, name, "part-0.parquet"))


@pytest.mark.parametrize("seed", FRESH_SEEDS)
def test_gold_check_accepts_truth_and_rejects_planted_faults(tmp_path, seed):
    truth = gen_fic.generate(seed, str(tmp_path / "fic"), **run.fic_sizes(seed))
    latest = gen_fic.gold_truth(truth)
    gold = str(tmp_path / "gold")
    _gold_from_truth(latest, gold)
    assert checks.check_gold(gold, latest) == []
    for how in ("cell", "row"):
        shutil.copytree(gold, str(tmp_path / how))
        run.plant_gold(str(tmp_path / how), how)
        assert checks.check_gold(str(tmp_path / how), latest), how


def test_drop_holds_the_valid_documents_and_the_planted_skips(tmp_path):
    planted = 0
    for seed in FRESH_SEEDS:
        drop = gen_fic.generate(seed, str(tmp_path / str(seed)), **run.fic_sizes(seed))["drop"]
        files = sorted(os.listdir(drop["folder"]))
        valid = sorted(d["filename"] for d in drop["valid"].values())
        assert files == sorted(valid + drop["skipped"])
        planted += len(drop["skipped"])
    assert planted > 0


def test_query_check_rejects_changed_cell_and_dropped_row():
    cols = ["k", "v"]
    rows = [("a", 1.0), ("b", 2.5), ("c", None)]
    twin = (["v", "k"], checks.norm_rows(["v", "k"], [(r[1], r[0]) for r in rows]))
    assert checks.check_query(cols, list(reversed(rows)), twin) == []
    assert checks.check_query(cols, run.plant_rows(rows, "cell"), twin)
    assert checks.check_query(cols, run.plant_rows(rows, "row"), twin)


def test_exits_nonzero_without_the_library(tmp_path):
    shutil.copytree(HERE, str(tmp_path / "seedbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), str(tmp_path))
    proc = subprocess.run(
        [sys.executable, "seedbench/run.py", "--workload", "fic-monthly", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=str(tmp_path), capture_output=True, text=True, timeout=170)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def _run(workload: str, seed: int, *extra: str) -> dict:
    proc = subprocess.run(
        [sys.executable, "seedbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "0", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=175)
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@e2e
@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
@pytest.mark.parametrize("seed", FRESH_SEEDS)
def test_fresh_seed_runs_correct(workload, seed):
    res = _run(workload, seed)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1


@e2e
@pytest.mark.parametrize("workload,how", [("registry-mix", "cell"), ("fic-monthly", "row")])
def test_planted_wrong_output_is_reported(workload, how):
    res = _run(workload, FRESH_SEEDS[0], "--plant", how)
    assert not res["correct"] and res["failed"] >= 1


def test_reported_metrics_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
