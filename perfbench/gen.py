"""Seeded input generators for the benchmark.

Everything the program under test reads is built here from one integer
seed; the same seed gives byte-identical inputs.

- ``cve_delta``: CVE JSON 5 records shaped like FIXTURES.md section 3,
  written as JSON-lines delta files (one record per line, the Kafka
  one-message-per-record shape). Optional ``containers.cna`` paths are
  omitted at a fixed share, some ids are ``GHSA-`` or empty, a few lines
  are unparseable, and some CVEs are re-delivered with a later
  ``dateUpdated``.
- ``questions``: chatbot questions, one in four off-topic; on-topic
  ones reuse most words of a generated description, off-topic ones use a
  vocabulary no description uses.
- ``registry_tables``: the ten registry tables (TPC-H-shaped star, events,
  documents, embeddings) with the column types of the fixture tables
  described in TESTDATA.md and FIXTURES.md.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

OMIT_SHARE = 0.25  # each optional cna path is absent from this share
UNPARSEABLE_SHARE = 0.02
EMPTY_ID_SHARE = 0.02
GHSA_SHARE = 0.04
REDELIVERY_SHARE = 0.06
OPTIONAL_PATHS = ("title", "descriptions", "metrics", "problemTypes")

_VULNS = [
    "sql injection", "cross site scripting", "buffer overflow", "use after free",
    "path traversal", "server side request forgery", "integer overflow",
    "deserialization of untrusted data", "improper authentication",
    "race condition", "null pointer dereference", "open redirect",
    "command injection", "xml external entity", "privilege escalation",
    "memory leak", "heap corruption", "format string", "csrf token bypass",
    "insecure default permissions",
]
_COMPONENTS = [
    "login form", "search endpoint", "image parser", "archive extractor",
    "admin console", "rest api", "session handler", "template engine",
    "file upload", "dns resolver", "tls handshake", "kernel driver",
    "plugin loader", "metrics exporter", "config importer", "websocket server",
    "pdf renderer", "font rasterizer", "cache layer", "ldap connector",
]
_PRODUCTS = [
    "acme portal", "nimbus gateway", "orbit cms", "quartz router", "helix db",
    "vertex proxy", "ember mail", "cobalt wiki", "lumen ide", "sable vpn",
    "tundra storage", "zephyr chat", "aurora billing", "basalt scheduler",
    "cinder shop", "delta tracker", "falcon sso", "granite backup",
]
_ACTORS = ["remote attackers", "authenticated users", "local users", "unauthenticated clients"]
_IMPACTS = [
    "execute arbitrary code", "read sensitive files", "cause a denial of service",
    "bypass access controls", "escalate privileges", "inject arbitrary web script",
    "hijack user sessions", "corrupt stored data",
]
_VECTORS = [
    "a crafted request", "a long header", "a malicious archive", "a forged cookie",
    "a specially crafted image", "an unchecked parameter", "a symlink attack",
    "a replayed token",
]
_SEVERITIES = [("LOW", 2.0, 3.9), ("MEDIUM", 4.0, 6.9), ("HIGH", 7.0, 8.9), ("CRITICAL", 9.0, 10.0)]
# Off-topic questions draw only from here; no generated description uses
# any of these words.
_OFF_TOPIC = [
    "recipe", "pasta", "garden", "tomato", "weekend", "hiking", "trail", "guitar",
    "chord", "birthday", "cake", "holiday", "beach", "sunset", "poem", "novel",
    "painting", "yoga", "marathon", "coffee", "espresso", "puppy", "kitten",
    "orchestra", "violin", "soccer", "league", "museum", "sculpture", "vacation",
]


@dataclass
class CveDelta:
    """One generated delta set and what a correct ingest must produce."""

    files: list[tuple[str, str]]  # (file name, JSON-lines content)
    input_rows: int
    warehouse_rows: int  # parseable records with a non-empty id
    unparseable_rows: int  # malformed JSON plus empty ids
    cve_ids: set[str] = field(default_factory=set)
    # id -> (title, description) for ids delivered exactly once
    single_texts: dict[str, tuple[str, str]] = field(default_factory=dict)
    redelivered_rows: int = 0

    def write(self, directory: str) -> int:
        """Write the delta files; returns the bytes written."""
        os.makedirs(directory, exist_ok=True)
        total = 0
        for name, text in self.files:
            data = text.encode()
            with open(os.path.join(directory, name), "wb") as fh:
                fh.write(data)
            total += len(data)
        return total


def _iso(day: int, minute: int) -> str:
    """ISO-8601 UTC timestamp ``day`` days after 2024-01-01."""
    import datetime as dt

    t = dt.datetime(2024, 1, 1) + dt.timedelta(days=day, minutes=minute)
    return t.strftime("%Y-%m-%dT%H:%M:%S.000Z")


def _description(rng: random.Random) -> str:
    return (
        f"{rng.choice(_VULNS)} in the {rng.choice(_COMPONENTS)} of {rng.choice(_PRODUCTS)} "
        f"allows {rng.choice(_ACTORS)} to {rng.choice(_IMPACTS)} via {rng.choice(_VECTORS)}"
    )


def _record(rng: random.Random, cve_id: str, published: int, updated: int):
    desc = _description(rng)
    title = " ".join(desc.split()[:6])
    cna: dict = {}
    present = {p: rng.random() >= OMIT_SHARE for p in OPTIONAL_PATHS}
    if present["title"]:
        cna["title"] = title
    if present["descriptions"]:
        cna["descriptions"] = [{"lang": "en", "value": desc}]
    if present["metrics"]:
        sev, lo, hi = rng.choice(_SEVERITIES)
        cna["metrics"] = [{"cvssV3_1": {"baseSeverity": sev, "baseScore": round(rng.uniform(lo, hi), 1)}}]
    if present["problemTypes"]:
        cna["problemTypes"] = [{"descriptions": [{"cweId": f"CWE-{rng.randint(20, 1300)}"}]}]
    rec = {
        "dataType": "CVE_RECORD",
        "cveMetadata": {
            "cveId": cve_id,
            "datePublished": _iso(published, rng.randint(0, 1439)),
            "dateUpdated": _iso(updated, rng.randint(0, 1439)),
        },
        "containers": {"cna": cna},
    }
    return rec, (title if present["title"] else "", desc if present["descriptions"] else "")


def cve_delta(seed: int, n_records: int, n_files: int, days: int = 120) -> CveDelta:
    """``n_records`` CVE records in generation order over ``n_files``
    JSON-lines files; publication dates span ``days`` days from
    2024-01-01."""
    rng = random.Random(seed)
    lines: list[str] = []
    ids: set[str] = set()
    once: dict[str, tuple[str, str]] = {}
    delivered: list[list] = []  # [id, publication day, last update day]
    counts = {"wh": 0, "bad": 0, "redo": 0}
    for _ in range(n_records):
        r = rng.random()
        if r < UNPARSEABLE_SHARE:
            rec, _t = _record(rng, "CVE-2024-00000", 0, 0)
            text = json.dumps(rec, sort_keys=True)
            lines.append(text[: rng.randint(5, len(text) - 5)])  # truncated document
            counts["bad"] += 1
            continue
        if r < UNPARSEABLE_SHARE + EMPTY_ID_SHARE:
            rec, _t = _record(rng, "", rng.randrange(days), days)
            lines.append(json.dumps(rec, sort_keys=True))
            counts["bad"] += 1
            continue
        if r < UNPARSEABLE_SHARE + EMPTY_ID_SHARE + REDELIVERY_SHARE and delivered:
            entry = rng.choice(delivered)
            cve_id, pub = entry[0], entry[1]
            entry[2] += rng.randint(1, 30)  # a later dateUpdated than any before
            rec, texts = _record(rng, cve_id, pub, entry[2])
            once.pop(cve_id, None)
            counts["redo"] += 1
        else:
            if rng.random() < GHSA_SHARE:
                parts = ["".join(rng.choice("23456789cfghjmpqrvwx") for _ in range(4)) for _ in range(3)]
                cve_id = "GHSA-" + "-".join(parts)
            else:
                cve_id = f"CVE-{rng.randint(2019, 2024)}-{rng.randint(1000, 99999):05d}"
            if cve_id in ids:
                cve_id = f"{cve_id}{len(ids)}"
            pub = rng.randrange(days)
            updated = pub + rng.randint(0, 30)
            rec, texts = _record(rng, cve_id, pub, updated)
            delivered.append([cve_id, pub, updated])
            once[cve_id] = texts
        ids.add(cve_id)
        lines.append(json.dumps(rec, sort_keys=True))
        counts["wh"] += 1
    size = -(-len(lines) // n_files)  # in order, so a re-delivery lands in the same or a later file
    per_file = [lines[i * size:(i + 1) * size] for i in range(n_files)]
    files = [(f"delta-{i:05d}.json", "\n".join(chunk) + "\n") for i, chunk in enumerate(per_file) if chunk]
    return CveDelta(
        files=files,
        input_rows=n_records,
        warehouse_rows=counts["wh"],
        unparseable_rows=counts["bad"],
        cve_ids=ids,
        single_texts=once,
        redelivered_rows=counts["redo"],
    )


@dataclass
class Question:
    text: str
    on_topic: bool


def questions(seed: int, descriptions: list[str], n: int, block: int = 4) -> list[Question]:
    """``n`` chatbot questions: each consecutive ``block`` holds exactly
    one off-topic question, at a seeded position, so every block has the
    same mix. An on-topic question keeps about four in five words of one
    description, in order, behind a question frame; an off-topic one is
    built from ``_OFF_TOPIC`` only."""
    rng = random.Random(seed)
    out = []
    for start in range(0, n, block):
        off = rng.randrange(min(block, n - start))
        for j in range(min(block, n - start)):
            if j == off:
                out.append(Question("what about " + " ".join(rng.sample(_OFF_TOPIC, 7)), False))
                continue
            words = rng.choice(descriptions).split()
            kept = [w for w in words if rng.random() < 0.8] or words
            out.append(Question("is there a vulnerability where " + " ".join(kept), True))
    return out


# --- registry tables --------------------------------------------------------

_P_ADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
_P_NOUN = ["plate", "widget", "ring", "rod", "gear", "bolt", "valve", "pipe"]
_DOC_WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark a the line sort "
    "window data column join small customer query big stream order group filter vector"
).split()


def registry_tables(seed: int, directory: str, scale: float = 0.01) -> dict[str, int]:
    """Write ``<table>.parquet`` for every registry table under
    ``directory`` with the column types and value ranges of the fixture
    tables at scale factor ``scale``; returns rows per table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(directory, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_li = int(1_500_000 * scale), int(6_000_000 * scale)
    n_docs, n_events = int(50_000 * scale), int(1_000_000 * scale)
    us = pa.timestamp("us")

    def days(lo: str, n_days: int, size: int):
        base = np.datetime64(lo, "D")
        return (base + rng.integers(0, n_days, size)).astype("datetime64[us]")

    def money(lo: float, hi: float, size: int):
        return np.round(rng.uniform(lo, hi, size), 2)

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"], n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_P_ADJ, n_part), rng.choice(_P_NOUN, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10.0, 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
            "o_totalprice": money(1000.0, 500000.0, n_ord),
            "o_orderdate": pa.array(days("1995-01-01", 2400, n_ord), us),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["R", "A", "N"], n_li),
            "l_linestatus": rng.choice(["O", "F"], n_li),
            "l_shipdate": pa.array(days("1995-01-02", 2500, n_li), us),
        }),
        "events": pa.table({
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us")
                + np.sort(rng.integers(0, 30 * 86_400_000_000, n_events)).astype("timedelta64[us]"),
                us,
            ),
            "user_id": rng.integers(0, max(1, n_events // 66), n_events, dtype=np.int64),
            "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], n_events),
            "value": money(0.01, 490.0, n_events),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }),
    }
    texts = [" ".join(rng.choice(_DOC_WORDS, rng.integers(20, 80))) for _ in range(n_docs)]
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "zh", "es", "de", "fr"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((n_docs, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_docs, dtype=np.int32)),
    })
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(directory, f"{name}.parquet"))
    return {name: tab.num_rows for name, tab in tables.items()}
