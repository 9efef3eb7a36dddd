"""Seeded synthetic fixtures for the benchmark.

``generate(out_dir, seed, sf)`` writes the ten catalog tables
(``database_scan_spark.catalog.TABLES``) as one parquet file each, with
the same schemas, key ranges and value domains as the driver's
TPC-H-shaped fixtures: uniform random foreign keys, five market
segments, a 31-word document vocabulary, unit-norm 64-d embeddings.
The same ``(seed, sf)`` always gives byte-identical tables.

``scale_up(src, out, copies)`` runs the repository's own
``tools/gen_scale_fixture.py`` over a generated fixture, so the scaled
traversal fixture is exactly the one the scale rehearsals use.
"""

from __future__ import annotations

import datetime as dt
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64

# Row counts per unit of scale factor (sf0.01 -> 1500 customers, ...).
PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}


def row_counts(sf: float) -> dict[str, int]:
    counts = {t: max(1, int(round(n * sf))) for t, n in PER_SF.items()}
    counts.update(region=5, nation=25)
    counts["documents"] = max(500, int(round(50_000 * sf)))
    counts["embeddings"] = max(500, int(round(20_000 * sf)))
    return counts


def _days(rng: np.random.Generator, start: dt.date, span: int, n: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    offs = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + offs, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


# Duplicate layout per block of 100 doc ids: slot -> (kind, offset of
# the source doc). Sources are never duplicates themselves, so every
# near-dup cluster is a pair whatever the seed, and the connected-
# component fixpoints run the same number of rounds on every seed.
_DUP_SLOTS = {37: ("exact", 13), 11: ("near", 7), 59: ("near", 7), 83: ("near", 7)}


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        kind, off = _DUP_SLOTS.get(i % 100, (None, 0))
        if kind == "exact" and i >= off:
            texts.append(texts[i - off])
        elif kind == "near" and i >= off:  # ~10% of tokens swapped
            toks = texts[i - off].split(" ")
            for j in rng.choice(len(toks), max(1, len(toks) // 10), replace=False):
                toks[j] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(toks))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    doc_id = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": doc_id,
            "text": pa.array(texts, type=pa.string()),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{d % 20}" for d in doc_id]),
            "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMBED_DIM)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every catalog table under ``out_dir``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    n = row_counts(sf)
    # one child stream per table: a table's rows never depend on the
    # size of another table
    rngs = dict(
        zip(
            sorted(n),
            (np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(len(n))),
        )
    )
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    nk = np.arange(25, dtype=np.int32)
    tables["nation"] = pa.table(
        {"n_nationkey": nk, "n_name": [f"NATION_{k}" for k in nk], "n_regionkey": nk % 5}
    )
    r, c = rngs["customer"], n["customer"]
    ck = np.arange(c, dtype=np.int64)
    tables["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_nationkey": r.integers(0, 25, c).astype(np.int32),
            "c_acctbal": _money(r, -999.99, 9999.99, c),
            "c_mktsegment": _pick(r, SEGMENTS, c),
        }
    )
    r, s = rngs["supplier"], n["supplier"]
    sk = np.arange(s, dtype=np.int64)
    tables["supplier"] = pa.table(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{k:09d}" for k in sk],
            "s_nationkey": r.integers(0, 25, s).astype(np.int32),
            "s_acctbal": _money(r, -999.99, 9999.99, s),
        }
    )
    r, p = rngs["part"], n["part"]
    pk = np.arange(p, dtype=np.int64)
    names = np.char.add(
        np.char.add(np.asarray(ADJECTIVES)[r.integers(0, 8, p)], " "),
        np.asarray(NOUNS)[r.integers(0, 8, p)],
    )
    tables["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": pa.array(names.tolist(), type=pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, p)]),
            "p_type": _pick(r, P_TYPES, p),
            "p_size": r.integers(1, 51, p).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        }
    )
    r, o = rngs["orders"], n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(o, dtype=np.int64),
            "o_custkey": r.integers(0, c, o).astype(np.int64),
            "o_orderstatus": _pick(r, ["F", "O", "P"], o),
            "o_totalprice": _money(r, 1000.0, 500000.0, o),
            "o_orderdate": _days(r, dt.date(1995, 1, 1), 2404, o),
            "o_orderpriority": _pick(r, PRIORITIES, o),
        }
    )
    r, li = rngs["lineitem"], n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": r.integers(0, o, li).astype(np.int64),
            "l_partkey": r.integers(0, p, li).astype(np.int64),
            "l_suppkey": r.integers(0, s, li).astype(np.int64),
            "l_linenumber": r.integers(1, 8, li).astype(np.int32),
            "l_quantity": r.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105000.0, li),
            "l_discount": r.integers(0, 11, li) / 100.0,
            "l_tax": r.integers(0, 9, li) / 100.0,
            "l_returnflag": _pick(r, ["A", "N", "R"], li),
            "l_linestatus": _pick(r, ["F", "O"], li),
            "l_shipdate": _days(r, dt.date(1995, 1, 2), 2498, li),
        }
    )
    r, e = rngs["events"], n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(r.integers(0, 30 * 86_400 * 10**6, e)).astype("timedelta64[us]")
    tables["events"] = pa.table(
        {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": pa.array(start + offs, type=pa.timestamp("us")),
            "user_id": r.integers(0, max(150, c // 10), e).astype(np.int64),
            "event_type": _pick(r, EVENT_TYPES, e),
            "value": np.maximum(np.round(r.exponential(50.0, e), 2), 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, e)]),
        }
    )
    tables["documents"] = _documents(rngs["documents"], n["documents"])
    tables["embeddings"] = _embeddings(rngs["embeddings"], n["embeddings"])
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def scale_up(repo: str, src: str, out: str, copies: int) -> None:
    """Build the ``copies``-x fixture with tools/gen_scale_fixture.py."""
    subprocess.run(
        [
            sys.executable,
            os.path.join(repo, "tools", "gen_scale_fixture.py"),
            "--src", src, "--out", out, "--copies", str(copies),
        ],
        check=True,
        stdout=subprocess.DEVNULL,
        timeout=300,
    )


def table_stats(sf_dir: str) -> dict[str, dict[str, float]]:
    """Row count and on-disk MB of every table in a fixture dir."""
    out = {}
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(sf_dir, f)
            out[f[: -len(".parquet")]] = {
                "rows": pq.ParquetFile(path).metadata.num_rows,
                "mb": round(os.path.getsize(path) / 2**20, 3),
            }
    return out
