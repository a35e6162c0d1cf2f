"""Seeded input generators.  Every workload's inputs come from here and
depend only on ``(seed, scale)``: the same seed writes byte-identical
files, another seed different ones.  The engine never sees the seed,
only the files and Glue dicts generated from it.

The TPC-H-shaped tables follow the column set and Glue types the
engine's testdata catalog declares (``fake_glue.TESTDATA_GLUE_COLUMNS``)
with TPC-H row counts per scale factor (orders = 1.5M x sf, ~4 line
items per order).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_LO = dt.datetime(1992, 1, 1)
ORDER_DAYS = 2405  # 1992-01-01 .. 1998-08-02, as TPC-H
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2),
    ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0), ("MOZAMBIQUE", 0),
    ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3), ("SAUDI ARABIA", 4),
    ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
METALS = ["BRASS", "COPPER", "NICKEL", "STEEL", "TIN"]
WORDS = (
    "almond antique aquamarine azure beige bisque black blanched blue "
    "blush brown burlywood burnished chartreuse chiffon chocolate coral "
    "cornflower cornsilk cream cyan dark deep dim dodger drab firebrick "
    "floral forest frosted gainsboro ghost goldenrod green grey honeydew"
).split()


def rng_for(seed: int, *salt: int) -> np.random.Generator:
    """Independent stream per (seed, purpose)."""
    return np.random.default_rng([seed, *salt])


def _names(prefix: str, n: int, width: int = 9) -> pa.Array:
    return pa.array([f"{prefix}#{i:0{width}d}" for i in range(1, n + 1)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def timestamps(days: np.ndarray) -> pa.Array:
    """Midnight timestamps ``days`` after 1992-01-01."""
    base = np.datetime64(EPOCH_LO, "us")
    return pa.array(base + days.astype("timedelta64[D]").astype("timedelta64[us]"))


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The seven TPC-H-shaped tables at scale factor ``sf``."""
    rng = rng_for(seed, 1)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 200)

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [n for n, _ in NATIONS],
        "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(1, n_supp + 1), pa.int64()),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    w = np.array(WORDS)
    part = pa.table({
        "p_partkey": pa.array(np.arange(1, n_part + 1), pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(
            w[rng.integers(0, len(w), n_part)], " "),
            w[rng.integers(0, len(w), n_part)])),
        "p_brand": pa.array(np.char.add(
            "Brand#", rng.integers(11, 56, n_part).astype(str))),
        "p_type": pa.array(np.char.add(np.char.add(
            np.array(TYPES)[rng.integers(0, len(TYPES), n_part)], " "),
            np.array(METALS)[rng.integers(0, len(METALS), n_part)])),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _money(rng, 900.0, 2100.0, n_part),
    })
    o_days = rng.integers(0, ORDER_DAYS - 151, n_ord)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(1, n_ord + 1) * 4, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[
            rng.choice(3, n_ord, p=[0.49, 0.49, 0.02])]),
        "o_totalprice": _money(rng, 850.0, 550_000.0, n_ord),
        "o_orderdate": timestamps(o_days),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[
            rng.integers(0, 5, n_ord)]),
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    idx = np.repeat(np.arange(n_ord), lines)
    linenumber = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship_days = o_days[idx] + rng.integers(1, 122, n_li)
    lineitem = pa.table({
        "l_orderkey": pa.array((idx + 1) * 4, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, n_part + 1, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.where(ship_days > 1263, "O", "F")),
        "l_shipdate": timestamps(ship_days),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem,
    }


def write_parquet(table: pa.Table, path: str) -> None:
    """Deterministic parquet: fixed writer options, no wall-clock
    metadata (pyarrow writes none), so equal tables give equal bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, str]:
    paths = {}
    for name, t in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        write_parquet(t, paths[name])
    return paths


# ---------------------------------------------------------------------------
# LLM corpora
# ---------------------------------------------------------------------------

VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column join small big customer query order "
    "group filter stream vector the a of and to in is for on with as "
    "index shard plan cost cache page block file log commit read write "
    "load train model token text word doc score rank near dup clean"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def llm_corpus(seed: int, corpus: int, n_docs: int, n_vecs: int,
               dup_rate: float, dims: int = 64) -> dict[str, pa.Table]:
    """``documents`` and ``embeddings`` for one corpus.  Documents are
    seeded word sequences; a ``dup_rate`` share of them are
    near-duplicates of earlier documents with ~10% of words perturbed.
    Embeddings are clustered float vectors with a share of jittered
    near-copies at the same rate.  Near-duplicates copy originals only,
    never other copies: duplicate groups are stars, so the rounds the
    clustering operators need do not depend on the seed."""
    rng = rng_for(seed, 7, corpus)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < dup_rate:
            words = texts[originals[int(rng.integers(0, len(originals)))]].split(" ")
            flip = rng.random(len(words)) < 0.1
            for j in np.flatnonzero(flip):
                words[j] = vocab[int(rng.integers(0, len(vocab)))]
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 90)))])
            originals.append(i)
        texts.append(" ".join(words))
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)]),
        "source": pa.array([f"src{i % 10}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centers = rng.normal(0, 1, (10, dims))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + rng.normal(0, 0.35, (n_vecs, dims))
    originals = [0]
    for i in range(1, n_vecs):
        if rng.random() < dup_rate:
            j = originals[int(rng.integers(0, len(originals)))]
            vecs[i] = vecs[j] + rng.normal(0, 0.01, dims)
            labels[i] = labels[j]
        else:
            originals.append(i)
    vecs = np.round(vecs, 4).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n_vecs * dims + 1, dims), pa.int32()),
            pa.array(vecs.reshape(-1))),
        "label": pa.array(labels, pa.int32()),
    })
    return {"documents": documents, "embeddings": embeddings}
