"""Seeded input generation for the benchmark.

Every table the engine reads (``schemas.TABLE_SCHEMAS``) is drawn from a
``numpy`` generator seeded by ``--seed``, so the same seed always yields
byte-identical parquet files. The table models follow the engine's
reference scale-factor tables (sf0.1): the same label sets, value ranges,
date windows, 31-word document vocabulary and 16-word part-name
vocabulary, with every constant written out here so generation reads
nothing outside the checkout. Row counts are ``SCALE`` times sf0.1.

Documents are drawn as fresh random text, which contains no near
duplicates at all, so :func:`plant_near_duplicates` adds seeded clusters
of edited copies. The benchmark keeps the planted pairs (``planted.json``)
as ground truth for the dedup recall check; the engine sees only the
parquet files.

Generated data is cached under ``<root>/.perfbench/data/<key>`` keyed by
(generator version, seed, scale); a ``.done`` marker is written last, so
an interrupted generation is redone, never reused.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1

# Row counts per table at scale 1 (the sf0.1 reference tables).
BASE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
BASE_USERS = 1_500

# Per-family scale relative to BASE_ROWS.
SCALE = {"tpch": 0.1, "events": 0.25, "documents": 0.2, "embeddings": 0.25}

DOC_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
PART_WORDS = (
    "anvil blue bolt cold gear gizmo hot large new old plate red ring rod "
    "small widget"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ORDER_STATUS = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
RETURN_FLAGS = ("A", "N", "R")
LINE_STATUS = ("F", "O")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.42, 0.148, 0.146, 0.146)
N_SOURCES = 20

# Planted near-duplicate clusters: a source document of at least
# PLANT_MIN_WORDS words plus PLANT_COPIES copies, each with one word
# replaced (shingle Jaccard >= ~0.7 to every other cluster member).
PLANT_CLUSTERS = 40
PLANT_COPIES = 2
PLANT_MIN_WORDS = 40


def _ts(s: str) -> np.datetime64:
    return np.datetime64(datetime.fromisoformat(s), "us")


def _pick(rng: np.random.Generator, values, n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), size=n, p=p)]


def _uniform_ts(rng: np.random.Generator, lo: str, hi: str, n: int, step_us: int):
    lo_us, hi_us = _ts(lo), _ts(hi)
    span = int((hi_us - lo_us) / np.timedelta64(step_us, "us"))
    return lo_us + (rng.integers(0, span, n) * step_us).astype("timedelta64[us]")


def _rows(table: str, family: str) -> int:
    return max(1, int(BASE_ROWS[table] * SCALE[family]))


def tpch_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n_sup, n_cust = _rows("supplier", "tpch"), _rows("customer", "tpch")
    n_part, n_ord = _rows("part", "tpch"), _rows("orders", "tpch")
    n_li = _rows("lineitem", "tpch")
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
                "r_name": list(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_sup, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_sup)],
            "s_nationkey": rng.integers(0, 25, n_sup).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_sup), 2),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust).astype(str),
        }
    )
    w1 = rng.integers(0, len(PART_WORDS), n_part)
    w2 = rng.integers(0, len(PART_WORDS), n_part)
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{PART_WORDS[a]} {PART_WORDS[b]}" for a, b in zip(w1, w2)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PART_TYPES, n_part).astype(str),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(rng.uniform(900.0, 999.9, n_part), 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ORDER_STATUS, n_ord).astype(str),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": _uniform_ts(
                rng, "1995-01-01", "2001-08-01", n_ord, 86_400_000_000
            ),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord).astype(str),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_sup, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
            "l_returnflag": _pick(rng, RETURN_FLAGS, n_li).astype(str),
            "l_linestatus": _pick(rng, LINE_STATUS, n_li).astype(str),
            "l_shipdate": _uniform_ts(
                rng, "1995-01-02", "2001-11-04", n_li, 86_400_000_000
            ),
        }
    )
    return out


def events_table(rng: np.random.Generator) -> pa.Table:
    n = _rows("events", "events")
    n_users = max(1, int(BASE_USERS * SCALE["events"]))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _uniform_ts(rng, "2024-01-01", "2024-01-31", n, 1),
            "user_id": rng.integers(0, n_users, n),
            "event_type": _pick(rng, EVENT_TYPES, n).astype(str),
            "value": np.round(rng.uniform(0.0, 560.0, n), 4),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def document_texts(rng: np.random.Generator, n: int) -> list[str]:
    voc = np.asarray(DOC_VOCAB)
    lengths = rng.integers(10, 101, n)
    return [" ".join(voc[rng.integers(0, len(voc), size=ln)]) for ln in lengths]


def plant_near_duplicates(
    rng: np.random.Generator, texts: list[str]
) -> tuple[list[str], list[list[int]]]:
    """Append PLANT_CLUSTERS clusters of edited copies to ``texts``.

    Returns the extended text list and the clusters as lists of indices
    (source first). A copy replaces one word, chosen at a random position,
    by a different vocabulary word, so every copy is a true near
    duplicate and never an exact one."""
    eligible = [i for i, t in enumerate(texts) if t.count(" ") + 1 >= PLANT_MIN_WORDS]
    sources = rng.choice(eligible, size=PLANT_CLUSTERS, replace=False)
    out = list(texts)
    clusters = []
    for src in sorted(int(s) for s in sources):
        words = texts[src].split(" ")
        members = [src]
        for _ in range(PLANT_COPIES):
            copy = list(words)
            pos = int(rng.integers(0, len(copy)))
            choices = [w for w in DOC_VOCAB if w != copy[pos]]
            copy[pos] = choices[int(rng.integers(0, len(choices)))]
            members.append(len(out))
            out.append(" ".join(copy))
        clusters.append(members)
    return out, clusters


def documents_table(rng: np.random.Generator) -> tuple[pa.Table, list[list[int]]]:
    texts, clusters = plant_near_duplicates(
        rng, document_texts(rng, _rows("documents", "documents"))
    )
    n = len(texts)
    table = pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, LANGS, n, p=LANG_P).astype(str),
            "source": [f"src{i}" for i in rng.integers(0, N_SOURCES, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    return table, clusters


def embeddings_table(rng: np.random.Generator) -> pa.Table:
    n = _rows("embeddings", "embeddings")
    emb = rng.uniform(-0.58, 0.52, size=(n, 64)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def planted_pairs(clusters: list[list[int]]) -> set[tuple[int, int]]:
    """Every unordered (low, high) doc-id pair inside one planted cluster."""
    return {
        (min(a, b), max(a, b))
        for members in clusters
        for i, a in enumerate(members)
        for b in members[i + 1 :]
    }


def data_key(seed: int) -> str:
    scale = "-".join(f"{k}{v:g}" for k, v in sorted(SCALE.items()))
    return f"v{GEN_VERSION}-seed{seed}-{scale}"


def generate(out_dir: str, seed: int) -> None:
    """Write every table plus ``planted.json`` into ``out_dir``."""
    # One child generator per table family, so a change to one family's
    # model leaves the other families' draws unchanged.
    tpch_rng, ev_rng, doc_rng, emb_rng = (
        np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(4)
    )
    os.makedirs(out_dir, exist_ok=True)
    tables = tpch_tables(tpch_rng)
    tables["events"] = events_table(ev_rng)
    tables["documents"], clusters = documents_table(doc_rng)
    tables["embeddings"] = embeddings_table(emb_rng)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(os.path.join(out_dir, "planted.json"), "w") as fh:
        json.dump({"clusters": clusters}, fh)


def ensure_data(root: str, seed: int) -> str:
    """Return the cached data directory for ``seed``, generating it once."""
    out = os.path.join(root, ".perfbench", "data", data_key(seed))
    if os.path.exists(os.path.join(out, ".done")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    generate(out, seed)
    open(os.path.join(out, ".done"), "w").close()
    return out


def load_planted(data_dir: str) -> set[tuple[int, int]]:
    with open(os.path.join(data_dir, "planted.json")) as fh:
        return planted_pairs(json.load(fh)["clusters"])
