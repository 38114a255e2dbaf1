"""The benchmark's inputs are a function of the seed, and its definition
matches what run.py reports.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import pyarrow.parquet as pq

import datagen
import run
from layers import PER_LAYER

N_CONCEPTS = 120


def _corpus(tmp_path: Path, name: str, seed: int) -> str:
    """sha256 over every pages row, in url order."""
    pages = datagen.kg_corpus(tmp_path / name, seed, N_CONCEPTS)
    table = pq.read_table(pages).sort_by([("url", "ascending"), ("warc_ts", "ascending")])
    h = hashlib.sha256()
    for col in ("url", "warc_ts", "html", "text", "lang"):
        for v in table.column(col).to_pylist():
            h.update(repr(v).encode())
    return h.hexdigest()


def test_corpus_same_seed_same_pages(tmp_path):
    assert _corpus(tmp_path, "a", 3) == _corpus(tmp_path, "b", 3)


def test_corpus_other_seed_other_pages(tmp_path):
    assert _corpus(tmp_path, "a", 3) != _corpus(tmp_path, "b", 4)


def _tables(tmp_path: Path, name: str, seed: int) -> str:
    out = Path(datagen.headline_tables(tmp_path / name, seed, sf=0.001))
    h = hashlib.sha256()
    for p in sorted(out.glob("*.parquet")):
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def test_headline_tables_follow_seed(tmp_path):
    assert _tables(tmp_path, "a", 5) == _tables(tmp_path, "b", 5)
    assert _tables(tmp_path, "a", 5) != _tables(tmp_path, "c", 6)


def test_benchmark_json_matches_reported_metrics():
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == PER_LAYER


def test_every_workload_variant_is_pinned():
    pins = json.loads((run.HERE / "pins.json").read_text())
    for workload in run.WORKLOADS:
        assert sorted(pins[workload], key=int) == [str(v) for v in range(run.VARIANTS)]
