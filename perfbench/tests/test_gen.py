"""Properties of the benchmark's input generators (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import gen  # noqa: E402


def _read_tree(path: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            out[name] = fh.read()
    return out


@pytest.fixture(scope="module")
def delta():
    return gen.cve_delta(seed=7, n_records=5000, n_files=5)


def _parsed(delta):
    records, broken = [], 0
    for _name, text in delta.files:
        for line in text.splitlines():
            try:
                records.append(json.loads(line))
            except json.JSONDecodeError:
                broken += 1
    return records, broken


def test_same_seed_gives_identical_bytes(tmp_path):
    for sub in ("a", "b"):
        gen.cve_delta(seed=3, n_records=800, n_files=3).write(str(tmp_path / sub / "cve"))
        gen.registry_tables(3, str(tmp_path / sub / "tables"), scale=0.001)
    for kind in ("cve", "tables"):
        assert _read_tree(str(tmp_path / "a" / kind)) == _read_tree(str(tmp_path / "b" / kind))
    descriptions = ["sql injection in the login form of acme portal"]
    assert gen.questions(3, descriptions, 50) == gen.questions(3, descriptions, 50)
    other = gen.cve_delta(seed=4, n_records=800, n_files=3)
    assert other.files != gen.cve_delta(seed=3, n_records=800, n_files=3).files


def test_cve_delta_shape(delta):
    records, broken = _parsed(delta)
    assert broken > 0 and broken + len(records) == delta.input_rows
    ids = [r["cveMetadata"]["cveId"] for r in records]
    assert any(i.startswith("GHSA-") for i in ids)
    assert "" in ids
    # every optional cna path is absent from at least a fifth of the records
    cnas = [r["containers"]["cna"] for r in records]
    for path in gen.OPTIONAL_PATHS:
        assert sum(path not in c for c in cnas) >= 0.2 * len(cnas), path
    months = {r["cveMetadata"]["datePublished"][:7] for r in records}
    assert len(months) >= 2
    # expected sink contents agree with the records themselves
    good = [i for i in ids if i]
    assert delta.warehouse_rows == len(good)
    assert delta.unparseable_rows == broken + ids.count("")
    assert delta.cve_ids == set(good)


def test_redelivered_cves_carry_a_later_update(delta):
    records, _ = _parsed(delta)
    first: dict[str, str] = {}
    later = 0
    for r in records:
        meta = r["cveMetadata"]
        if not meta["cveId"]:
            continue
        if meta["cveId"] in first:
            assert meta["dateUpdated"] > first[meta["cveId"]]
            later += 1
        else:
            first[meta["cveId"]] = meta["dateUpdated"]
    assert later == delta.redelivered_rows > 0
    assert not set(delta.single_texts) & {i for i in first if sum(
        r["cveMetadata"]["cveId"] == i for r in records) > 1}


def test_questions_on_and_off_topic(delta):
    from ingestion_pipeline_spark.functions.embed import hashing_embedder
    from ingestion_pipeline_spark.functions.extract import EMBED_TEXT_TEMPLATE

    descriptions = [d for _t, d in delta.single_texts.values() if d]
    qs = gen.questions(11, descriptions, 200)
    off = [q for q in qs if not q.on_topic]
    assert all(sum(not q.on_topic for q in qs[i:i + 4]) == 1 for i in range(0, len(qs), 4))
    vocab = {w for d in descriptions for w in d.split()}
    assert all(not set(q.text.split()[2:]) & vocab for q in off)

    # off-topic questions clear no threshold the serving workload uses
    embed = hashing_embedder(64)
    texts = [EMBED_TEXT_TEMPLATE % (t, i, d) for i, (t, d) in delta.single_texts.items()]
    corpus = np.stack(embed(pd.Series(texts)).to_numpy())
    probes = np.stack(embed(pd.Series([q.text for q in qs])).to_numpy())
    best = (probes @ corpus.T).max(axis=1)
    on = np.array([q.on_topic for q in qs])
    assert best[~on].max() < 0.6
    assert (best[on] >= 0.6).mean() > 0.8
