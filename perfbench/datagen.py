"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes
byte-identical tables and returns identical in-memory frames.  The
tables mirror the engine's star-schema contract (column names, types
and categorical domains of ``locopy_spark.sources.tables.CORE_TABLES``)
at a small scale, so a run reads no input from outside its checkout.
"""

from __future__ import annotations

import datetime as dt
import os
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
WORDS = (
    "data query table row column join scan filter group order sort hash "
    "merge window batch stream spark value part line key agg fast slow "
    "big small customer vector index cache shuffle plan stage task job "
    "engine warehouse bucket schema record field frame split file load"
).split()
STOPWORDS = ["the", "and", "is", "to", "of", "a", "in", "that", "it", "on"]
LANGS = ["en", "de", "fr", "es", "zh"]

DAY0 = np.datetime64("1995-01-01", "D")
N_DAYS = 2400  # orders span 1995-01-01 .. 2001-07-29


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per table, so resizing one table leaves
    # every other table's draw unchanged
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919 + len(stream)])


def _ts(days: np.ndarray) -> np.ndarray:
    return (DAY0 + days.astype("timedelta64[D]")).astype("datetime64[us]")


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def star_tables(seed: int, n_orders: int) -> dict[str, pd.DataFrame]:
    """TPC-H-shaped tables plus ``events``; ``lineitem`` has ~4 rows per
    order.  Prices are whole cents, so every engine sums them exactly."""
    n_cust = max(50, n_orders // 10)
    n_part = max(50, n_orders // 7)
    n_supp = max(10, n_orders // 150)
    r = _rng(seed, "region")
    region = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS}
    )
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )
    r = _rng(seed, "customer")
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": r.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _cents(r.uniform(-999.99, 9999.99, n_cust)),
            "c_mktsegment": r.choice(SEGMENTS, n_cust),
        }
    )
    r = _rng(seed, "supplier")
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": r.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _cents(r.uniform(-999.99, 9999.99, n_supp)),
        }
    )
    r = _rng(seed, "part")
    adjs = ["small", "red", "blue", "green", "large", "steel", "brass", "matte"]
    nouns = ["ring", "widget", "bolt", "gear", "plate", "valve", "pipe", "nut"]
    part = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [
                f"{adjs[a]} {nouns[b]}"
                for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
            "p_type": r.choice(PART_TYPES, n_part),
            "p_size": r.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": _cents(900.0 + (np.arange(n_part) % 1000) * 0.1),
        }
    )
    r = _rng(seed, "orders")
    odays = r.integers(0, N_DAYS, n_orders)
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype="int64"),
            "o_custkey": r.integers(0, n_cust, n_orders).astype("int64"),
            "o_orderstatus": r.choice(["F", "O", "P"], n_orders),
            "o_totalprice": _cents(r.uniform(1000.0, 500000.0, n_orders)),
            "o_orderdate": _ts(odays),
            "o_orderpriority": r.choice(PRIORITIES, n_orders),
        }
    )
    r = _rng(seed, "lineitem")
    lines = r.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype="int64"), lines)
    n_li = len(okey)
    lineno = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    qty = r.integers(1, 51, n_li).astype("float64")
    lineitem = pd.DataFrame(
        {
            "l_orderkey": okey,
            "l_partkey": r.integers(0, n_part, n_li).astype("int64"),
            "l_suppkey": r.integers(0, n_supp, n_li).astype("int64"),
            "l_linenumber": lineno.astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": _cents(qty * r.uniform(900.0, 2100.0, n_li)),
            "l_discount": r.integers(0, 11, n_li) / 100.0,
            "l_tax": r.integers(0, 9, n_li) / 100.0,
            "l_returnflag": r.choice(["A", "N", "R"], n_li),
            "l_linestatus": r.choice(["F", "O"], n_li),
            "l_shipdate": _ts(np.repeat(odays, lines) + r.integers(1, 122, n_li)),
        }
    )
    r = _rng(seed, "events")
    n_ev = max(1000, n_orders * 2 // 3)
    ts_us = np.sort(r.integers(0, 30 * 86_400_000_000, n_ev))
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
            "user_id": r.integers(0, max(20, n_ev // 60), n_ev).astype("int64"),
            "event_type": r.choice(EVENT_TYPES, n_ev, p=[0.35, 0.35, 0.1, 0.1, 0.1]),
            "value": _cents(r.uniform(0.01, 500.0, n_ev)),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
    }


def write_tables(tables: dict[str, pd.DataFrame], sf_dir: str) -> None:
    """Write each frame as ``<sf_dir>/<name>.parquet`` (the layout
    ``locopy_spark.sources.tables.load_table`` reads)."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, df in tables.items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


# -- ingest_export inputs ----------------------------------------------------

LOAD_SCHEMA = (
    "l_orderkey BIGINT, l_partkey BIGINT, l_quantity DOUBLE, "
    "l_extendedprice DOUBLE, l_returnflag STRING, l_shipdate DATE, "
    "l_comment STRING"
)


def load_frame(seed: int, n_rows: int) -> pd.DataFrame:
    """The rows of the pipe-delimited file loaded by ``load_and_copy``."""
    r = _rng(seed, "load")
    qty = r.integers(1, 51, n_rows).astype("float64")
    words = np.array(WORDS, dtype=object)
    idx = r.integers(0, len(words), (n_rows, 4))
    comment = words[idx[:, 0]] + " " + words[idx[:, 1]] + " " + words[idx[:, 2]] + " " + words[idx[:, 3]]
    return pd.DataFrame(
        {
            "l_orderkey": r.integers(0, 10 * n_rows, n_rows).astype("int64"),
            "l_partkey": r.integers(0, 20_000, n_rows).astype("int64"),
            "l_quantity": qty,
            "l_extendedprice": _cents(qty * r.uniform(900.0, 2100.0, n_rows)),
            "l_returnflag": r.choice(["A", "N", "R"], n_rows),
            "l_shipdate": (
                DAY0 + r.integers(0, N_DAYS, n_rows).astype("timedelta64[D]")
            ).astype("datetime64[D]"),
            "l_comment": comment,
        }
    )


def write_pipe_csv(df: pd.DataFrame, path: str) -> int:
    """Write ``df`` pipe-delimited with a header row; returns its bytes."""
    df.to_csv(path, sep="|", index=False, header=True, date_format="%Y-%m-%d")
    return os.path.getsize(path)


def insert_frame(seed: int, n_rows: int, batch: int) -> pd.DataFrame:
    """A mixed-dtype frame for ``insert_dataframe_to_table``: ints,
    floats, bools, strings and object-typed ISO date strings (which the
    schema inference must recognise as dates)."""
    r = _rng(seed, f"insert{batch}")
    days = DAY0 + r.integers(0, N_DAYS, n_rows).astype("timedelta64[D]")
    return pd.DataFrame(
        {
            "id": np.arange(n_rows, dtype="int64") + batch * 1_000_000,
            "qty": r.integers(0, 1000, n_rows).astype("int64"),
            "price": _cents(r.uniform(0.0, 10_000.0, n_rows)),
            "flag": r.integers(0, 2, n_rows).astype(bool),
            "label": r.choice(["alpha", "beta", "gamma", "delta"], n_rows),
            "day": pd.Series(np.datetime_as_string(days, unit="D"), dtype=object),
        }
    )


# -- corpus_retrieval inputs -------------------------------------------------

def embeddings(seed: int, n_vecs: int, dim: int = 64) -> pd.DataFrame:
    """Unit-norm float32 vectors around 10 cluster centres."""
    r = _rng(seed, "embeddings")
    centres = r.normal(size=(10, dim))
    label = r.integers(0, 10, n_vecs)
    v = centres[label] + 0.9 * r.normal(size=(n_vecs, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype="int64"),
            "embedding": list(v),
            "label": label.astype("int32"),
        }
    )


def write_embeddings(df: pd.DataFrame, path: str) -> None:
    arr = pa.array([np.asarray(x, dtype="float32") for x in df["embedding"]],
                   type=pa.list_(pa.float32()))
    table = pa.table(
        {"vec_id": pa.array(df["vec_id"]), "embedding": arr,
         "label": pa.array(df["label"])}
    )
    pq.write_table(table, path)


def documents(seed: int, n_docs: int, n_batches: int) -> tuple[pd.DataFrame, set]:
    """Documents with planted duplicates.

    Returns the frame and the planted near-duplicate pairs ``(lo, hi)``.
    Doc ids are laid out so that every planted pair shares its
    ``doc_id % n_batches`` residue (one dedup batch per residue).  Each
    batch also holds exact duplicates (same words, different case and
    spacing) and a few low-quality documents (empty, or punctuation
    runs) that the quality filter must drop.
    """
    r = _rng(seed, "documents")
    vocab = WORDS + [f"w{i}" for i in range(400)]
    texts: list[str] = [""] * n_docs
    pairs: set[tuple[int, int]] = set()
    ids = np.arange(n_docs)
    for b in range(n_batches):
        members = ids[ids % n_batches == b]
        order = members.copy()
        r.shuffle(order)
        n = len(order)
        n_near, n_exact, n_junk = n // 10, n // 20, 3
        originals = order[: n_near + n_exact]
        for d in originals:
            texts[d] = _doc_text(r, vocab)
        for k in range(n_near):
            src, dst = originals[k], order[n_near + n_exact + k]
            texts[dst] = _near_copy(r, texts[src], vocab)
            pairs.add((int(min(src, dst)), int(max(src, dst))))
        for k in range(n_exact):
            src, dst = originals[n_near + k], order[2 * n_near + n_exact + k]
            texts[dst] = "  " + texts[src].upper().replace(" ", "   ") + " "
        junk = order[2 * n_near + 2 * n_exact: 2 * n_near + 2 * n_exact + n_junk]
        for j, d in enumerate(junk):
            texts[d] = "" if j == 0 else "!!! ??? ... ;;; ,,, ::: (((" * 3
        for d in order[2 * n_near + 2 * n_exact + n_junk:]:
            texts[d] = _doc_text(r, vocab)
    df = pd.DataFrame(
        {
            "doc_id": ids.astype("int64"),
            "text": texts,
            "lang": r.choice(LANGS, n_docs),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    return df, pairs


def _doc_text(r: np.random.Generator, vocab: list[str]) -> str:
    n = int(r.integers(40, 90))
    words = [
        STOPWORDS[r.integers(0, len(STOPWORDS))] if r.random() < 0.3
        else vocab[r.integers(0, len(vocab))]
        for _ in range(n)
    ]
    return " ".join(words)


def _near_copy(r: np.random.Generator, text: str, vocab: list[str]) -> str:
    # one substituted word in ~60: shingle Jaccard stays well above 0.8
    words = text.split(" ")
    i = int(r.integers(0, len(words)))
    words[i] = vocab[r.integers(0, len(vocab))] + "x"
    return " ".join(words)


def quality_score(text: str) -> float | None:
    """Python twin of ``functions.text.quality_score_expr``."""
    from locopy_spark.functions.text import PUNCT_CLASS
    from locopy_spark.functions.text import STOPWORDS as QUALITY_STOPWORDS

    toks = re.split(r"\s+", text.strip().lower())
    if len(text) == 0:
        return None
    stop = sum(1 for t in toks if t in QUALITY_STOPWORDS)
    punct = len(re.findall(PUNCT_CLASS, text))
    return stop / len(toks) - punct / len(text) + min(len(toks), 100) / 1000


def normalized(text: str) -> str:
    """Python twin of ``operators.dedup.normalized_text_expr``."""
    return re.sub(r"\s+", " ", text.strip().lower())


def seeded_dates(seed: int, n: int) -> list[tuple[dt.date, dt.date]]:
    """Seeded [lo, hi) ship-date windows of 30..180 days."""
    r = _rng(seed, "dates")
    out = []
    for _ in range(n):
        lo = dt.date(1995, 1, 1) + dt.timedelta(days=int(r.integers(0, N_DAYS - 200)))
        out.append((lo, lo + dt.timedelta(days=int(r.integers(30, 181)))))
    return out
