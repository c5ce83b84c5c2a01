"""Determinism and shape tests for the benchmark's input generators.

    python3 -m pytest perfbench/test_datagen.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import zipfile

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                data = fh.read()
            out[os.path.relpath(path, root)] = hashlib.sha256(data).hexdigest()
    return out


@pytest.mark.parametrize("workload", datagen.WORKLOADS)
def test_same_seed_same_inputs(tmp_path, workload):
    datagen.generate(workload, 5, str(tmp_path / "a"))
    datagen.generate(workload, 5, str(tmp_path / "b"))
    datagen.generate(workload, 6, str(tmp_path / "c"))
    a, b, c = (_digest(str(tmp_path / d)) for d in "abc")
    assert a == b
    assert a != c


def test_monthly_archives_plant_every_defect(tmp_path):
    spec = datagen.PIPELINE_WORKLOADS["pipeline_monthly"][0]
    rows = datagen.trip_rows(spec, 3)
    assert len(rows) == spec.rows
    kinds = rows["kind"].value_counts()
    # Rates apply to the random rows, about four fifths of an archive.
    for kind, rate in datagen.DIRTY_RATES.items():
        assert kinds[kind] >= rate * spec.rows * 0.75, kind
    kept = rows[rows["kind"].isin(datagen.KEPT_KINDS)]
    assert (kept["start_time"].dt.year == spec.year).all()
    assert (rows.loc[rows["kind"] == "wrong_year", "start_time"].dt.year != spec.year).all()


def test_yearly_archive_layout(tmp_path):
    datagen.generate("pipeline_backfill", 4, str(tmp_path / "w"))
    man = json.loads((tmp_path / "w" / "manifest.json").read_text())
    assert [a["month"] for a in man["archives"]] == [None] * len(man["archives"])
    with zipfile.ZipFile(tmp_path / "w" / "archives" / man["archives"][0]["name"]) as zf:
        names = zf.namelist()
        assert any(n.startswith("__MACOSX/") for n in names)
        nested = [n for n in names if n.endswith(".zip")]
        assert len(nested) == 1
        assert sum(n.endswith(".csv") and not n.startswith("__MACOSX") for n in names) == 9
        header = zf.read(names[0]).split(b"\n", 1)[0]
        assert b"start station latitude" in header.lower()
    assert sorted(os.listdir(tmp_path / "w")) == sorted(
        ["archives", "expected", "manifest.json", *man["junk"]])


def test_expected_tables_cover_both_years(tmp_path):
    datagen.generate("pipeline_monthly", 8, str(tmp_path / "w"))
    line = pq.read_table(tmp_path / "w" / "expected" / "linegraph.parquet").to_pandas()
    assert set(line["year"]) == {"2023", "2024"}
    assert len(line) == len(datagen.PIPELINE_WORKLOADS["pipeline_monthly"])
    trips = pq.read_table(tmp_path / "w" / "expected" / "trips.parquet").to_pandas()
    assert len(trips.groupby("year")) == 2


def test_catalog_tables_follow_fixture_schemas(tmp_path):
    datagen.generate("catalog_py", 1, str(tmp_path / "c"))
    docs = pq.read_schema(tmp_path / "c" / "tables" / "documents.parquet")
    emb = pq.read_schema(tmp_path / "c" / "tables" / "embeddings.parquet")
    assert [(f.name, str(f.type)) for f in docs] == [
        ("doc_id", "int64"), ("text", "string"), ("lang", "string"),
        ("source", "string"), ("n_chars", "int64")]
    assert [(f.name, str(f.type)) for f in emb] == [
        ("vec_id", "int64"), ("embedding", "list<element: float>"), ("label", "int32")]
