"""Seeded input generator for the benchmark workloads.

Every table and file is a pure function of ``(workload, seed)``: the same
seed gives byte-identical files, another seed gives other contents of the
same shape and size. The schemas and value ranges copy the repository's
fixture tables (FIXTURES.md) so the registered queries and their DuckDB
oracles run unchanged on them.

Inputs are cached per seed and generator version under
``<root>/inputs/<workload>/seed-<n>-<version>``;
a directory is complete only once its ``_COMPLETE`` marker exists, and it
is built in a sibling temp directory and renamed into place, so a run that
dies half way never leaves a partial input behind.
"""

from __future__ import annotations

import hashlib
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Fingerprint of this generator: a cache made by other code is not reused.
VERSION = hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:12]

# --- dedup_index: the TPC-H-shaped star schema -----------------------------
#: Row counts are the repository's sf0.1 fixture's times TPCH_SCALE.
TPCH_SCALE = 0.5
N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS = 15_000, 1_000, 20_000, 150_000
MAX_LINES_PER_ORDER = 7
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
FIRST_ORDER_DAY = np.datetime64("1995-01-01", "D")
ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - FIRST_ORDER_DAY).astype(int))

# --- dedup_index ------------------------------------------------------------
N_DOCUMENTS, N_EMBEDDINGS, EMBED_DIM, N_LABELS = 2_500, 1_000, 64, 10
DUP_SHARE = 0.05
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.41, 0.14, 0.15, 0.15, 0.15)

# --- mr_text ----------------------------------------------------------------
MR_FILES = 16
MR_TOKENS_PER_FILE = 4_000
MR_VOCAB = 1_000
MR_ZIPF_S = 1.1
#: Share of all tokens taken by one planted word: the hot key group that
#: lands in a single reduce task.
MR_HOT_SHARE = 0.10
MR_HOT_WORD = "hotkey"

WORKLOADS = ("mr_text", "dedup_index")


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, table), so adding a table or
    resizing one never shifts the contents of another."""
    return np.random.default_rng([seed, *stream.encode()])


def _write(table: pa.Table, path: Path) -> None:
    # No pandas metadata and a fixed writer: the bytes depend on the data only.
    pq.write_table(table, path, compression="snappy", store_schema=False)


def _days_to_ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("datetime64[D]").astype("datetime64[us]"), pa.timestamp("us"))


def _shuffled(table: pa.Table, rng: np.random.Generator) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts, as integers of cents over 100 (exact decimals)."""
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def tpch_tables(seed: int, scale: float = TPCH_SCALE) -> dict[str, pa.Table]:
    """The star schema (region, nation, customer, supplier, orders,
    lineitem) at ``scale`` times the sf0.1 fixture's row counts."""
    n_cust, n_supp, n_part, n_ord = (
        int(n * scale) for n in (N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS)
    )
    tables: dict[str, pa.Table] = {
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
    r = _rng(seed, "customer")
    tables["customer"] = _shuffled(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
                "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
            }
        ),
        r,
    )
    r = _rng(seed, "supplier")
    tables["supplier"] = _shuffled(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
            }
        ),
        r,
    )
    r = _rng(seed, "orders")
    order_day = r.integers(0, ORDER_DAYS + 1, n_ord)
    tables["orders"] = _shuffled(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
                "o_totalprice": _money(r, 900.0, 500_000.0, n_ord),
                "o_orderdate": _days_to_ts(FIRST_ORDER_DAY + order_day),
                "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
            }
        ),
        r,
    )
    r = _rng(seed, "lineitem")
    lines = r.integers(1, MAX_LINES_PER_ORDER + 1, n_ord)
    n_li = int(lines.sum())
    orderkey = np.repeat(np.arange(n_ord), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    quantity = r.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = _shuffled(
        pa.table(
            {
                "l_orderkey": pa.array(orderkey, pa.int64()),
                "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
                "l_quantity": quantity,
                "l_extendedprice": np.round(quantity * _money(r, 900.0, 2_000.0, n_li), 2),
                "l_discount": r.integers(0, 11, n_li) / 100.0,
                "l_tax": r.integers(0, 9, n_li) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
                "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
                "l_shipdate": _days_to_ts(
                    FIRST_ORDER_DAY + order_day[orderkey] + r.integers(1, 122, n_li)
                ),
            }
        ),
        r,
    )
    return tables


def dedup_tables(seed: int) -> dict[str, pa.Table]:
    """``documents`` with planted exact-plus-suffix near-duplicates and
    ``embeddings`` of random unit vectors, at the sf0.1 fixture's sizes."""
    r = _rng(seed, "documents")
    vocab = np.array(DOC_WORDS)
    lengths = r.integers(8, 100, N_DOCUMENTS)
    texts = [" ".join(vocab[r.integers(0, len(vocab), n)]) for n in lengths]
    n_dup = int(N_DOCUMENTS * DUP_SHARE)
    dup_ids = r.choice(N_DOCUMENTS, n_dup, replace=False)
    originals = np.setdiff1d(np.arange(N_DOCUMENTS), dup_ids)
    for d, o in zip(dup_ids, r.choice(originals, n_dup)):
        texts[d] = texts[o] + " dup"
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCUMENTS), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[r.choice(len(LANGS), N_DOCUMENTS, p=LANG_WEIGHTS)],
            "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    r = _rng(seed, "embeddings")
    vecs = r.standard_normal((N_EMBEDDINGS, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(N_EMBEDDINGS), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(r.integers(0, N_LABELS, N_EMBEDDINGS), pa.int32()),
        }
    )
    return {
        "documents": _shuffled(documents, _rng(seed, "documents-order")),
        "embeddings": _shuffled(embeddings, _rng(seed, "embeddings-order")),
    }


def _vocabulary(r: np.random.Generator, n: int) -> list[str]:
    """n distinct lowercase words of 3-10 letters, never the hot word."""
    words: dict[str, None] = {}
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    while len(words) < n:
        w = "".join(letters[r.integers(0, 26, r.integers(3, 11))])
        if w != MR_HOT_WORD:
            words[w] = None
    return list(words)


def mr_corpus(seed: int) -> dict[str, str]:
    """filename -> contents: MR_FILES plain-text files whose words follow a
    Zipf law over MR_VOCAB words, plus one planted hot word."""
    r = _rng(seed, "mr_text")
    vocab = np.array(_vocabulary(r, MR_VOCAB) + [MR_HOT_WORD])
    weights = 1.0 / np.arange(1, MR_VOCAB + 1) ** MR_ZIPF_S
    p = np.append(weights / weights.sum() * (1 - MR_HOT_SHARE), MR_HOT_SHARE)
    # Separators mix spaces, punctuation, digits and newlines so the
    # tokenizer's non-letter rule is exercised, as in real prose.
    seps = np.array([" ", " ", " ", " ", ", ", ". ", " 1999 ", "\n"])
    files = {}
    for i in range(MR_FILES):
        words = vocab[r.choice(len(vocab), MR_TOKENS_PER_FILE, p=p)]
        gaps = seps[r.integers(0, len(seps), MR_TOKENS_PER_FILE)]
        files[f"pg-{i:02d}.txt"] = "".join(np.char.add(words, gaps)) + "\n"
    return files


def _build(workload: str, seed: int, out: Path) -> None:
    if workload == "dedup_index":
        for name, table in {**dedup_tables(seed), **tpch_tables(seed)}.items():
            _write(table, out / f"{name}.parquet")
    elif workload == "mr_text":
        corpus = mr_corpus(seed)
        (out / "text").mkdir()
        for name, text in corpus.items():
            (out / "text" / name).write_text(text, encoding="utf-8")
        # The same corpus as a documents table, for the native mrapps plans.
        _write(
            pa.table(
                {
                    "doc_id": pa.array(range(len(corpus)), pa.int64()),
                    "text": list(corpus.values()),
                    "lang": ["en"] * len(corpus),
                    "source": list(corpus),
                    "n_chars": pa.array([len(t) for t in corpus.values()], pa.int64()),
                }
            ),
            out / "documents.parquet",
        )
    else:
        raise ValueError(f"unknown workload {workload!r}; expected one of {WORKLOADS}")


def ensure_inputs(workload: str, seed: int, root: Path) -> Path:
    """Directory holding the workload's inputs for ``seed``, generated on
    first use and reused afterwards."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; expected one of {WORKLOADS}")
    out = Path(root) / "inputs" / workload / f"seed-{seed}-{VERSION}"
    if (out / "_COMPLETE").exists():
        return out
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    _build(workload, seed, tmp)
    (tmp / "_COMPLETE").touch()
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out
