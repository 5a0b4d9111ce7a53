"""Seeded input generators for the three workloads.

Every generator takes a seed and an output directory and writes the
files the program reads; the same seed gives byte-identical files.
Each returns a dict of measured input properties, which the run
prints next to its metrics.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per parquet row group: several row groups per file, so scans
# split into several tasks the way a real warehouse table does.
ROW_GROUPS = 8

_DAY_US = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _write(table: pa.Table, path: str) -> None:
    rg = max(1, -(-table.num_rows // ROW_GROUPS))
    pq.write_table(table, path, row_group_size=rg, compression="snappy")


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Two-decimal amounts drawn as whole cents, so DECIMAL(12,2)
    casts on both engines see exactly the stored value."""
    return rng.integers(lo, hi, n) / 100.0


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype(np.int64), type=pa.timestamp("us"))


# ---------------------------------------------------------------------------
# bi_mix: star schema + events, testdata schema at sf0.1-like row counts
# ---------------------------------------------------------------------------

# sf0.01-like dimension and fact tables; events keep the sf0.1 row
# count (100k), which sets the size of the session and funnel windows.
STAR_ROWS = {
    "region": 5, "nation": 25, "customer": 1_500, "supplier": 100,
    "part": 2_000, "orders": 15_000, "events": 100_000,
}


def gen_star(seed: int, out: str) -> dict:
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n = STAR_ROWS
    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out}/region.parquet")
    nk = np.arange(n["nation"], dtype=np.int32)
    _write(pa.table({
        "n_nationkey": pa.array(nk),
        "n_name": [f"NATION_{k}" for k in nk.tolist()],
        "n_regionkey": pa.array((nk % 5).astype(np.int32)),
    }), f"{out}/nation.parquet")

    ck = np.arange(n["customer"], dtype=np.int64)
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck.tolist()],
        "c_nationkey": pa.array(rng.integers(0, 25, len(ck)).astype(np.int32)),
        "c_acctbal": _cents(rng, -99_999, 1_000_000, len(ck)),
        "c_mktsegment": segments[rng.integers(0, 5, len(ck))],
    }), f"{out}/customer.parquet")

    sk = np.arange(n["supplier"], dtype=np.int64)
    _write(pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk.tolist()],
        "s_nationkey": pa.array(rng.integers(0, 25, len(sk)).astype(np.int32)),
        "s_acctbal": _cents(rng, -99_999, 1_000_000, len(sk)),
    }), f"{out}/supplier.parquet")

    pk = np.arange(n["part"], dtype=np.int64)
    adj = np.array(["large", "hot", "blue", "old", "red", "small", "green", "shiny"])
    noun = np.array(["ring", "bolt", "plate", "nut", "gear", "pipe", "valve", "spring"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    _write(pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, len(pk))], " "),
                              noun[rng.integers(0, 8, len(pk))]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, len(pk)).astype(str)),
        "p_type": types[rng.integers(0, 6, len(pk))],
        "p_size": pa.array(rng.integers(1, 51, len(pk)).astype(np.int32)),
        "p_retailprice": (90_000 + (pk % 1000) * 10) / 100.0,
    }), f"{out}/part.parquet")

    no = n["orders"]
    ok = np.arange(no, dtype=np.int64)
    d0, d1 = _epoch_us(1995, 1, 1), _epoch_us(2001, 8, 1)
    odate = d0 + rng.integers(0, (d1 - d0) // _DAY_US + 1, no) * _DAY_US
    statuses = np.array(["F", "O", "P"])
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n["customer"], no).astype(np.int64),
        "o_orderstatus": statuses[rng.integers(0, 3, no)],
        "o_totalprice": _cents(rng, 100_191, 49_999_319, no),
        "o_orderdate": _ts(odate),
        "o_orderpriority": prios[rng.integers(0, 5, no)],
    }), f"{out}/orders.parquet")

    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    l_ok = np.repeat(ok, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_ln = (np.arange(nl) - starts + 1).astype(np.int32)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, nl) * _DAY_US
    perm = rng.permutation(nl)  # file order is not key order
    _write(pa.table({
        "l_orderkey": l_ok[perm],
        "l_partkey": rng.integers(0, n["part"], nl).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], nl).astype(np.int64),
        "l_linenumber": pa.array(l_ln[perm]),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _cents(rng, 90_068, 10_499_992, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(ship[perm]),
    }), f"{out}/lineitem.parquet")

    ne = n["events"]
    e0 = _epoch_us(2024, 1, 1)
    ets = np.sort(e0 + rng.integers(0, 30 * _DAY_US, ne))
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    _write(pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(ets),
        "user_id": rng.integers(0, 1500, ne).astype(np.int64),
        "event_type": etypes[rng.integers(0, 5, ne)],
        "value": _cents(rng, 0, 56_022, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne).tolist()],
    }), f"{out}/events.parquet")
    rows = dict(n, lineitem=nl)
    return {"rows": rows, "row_groups_per_file": ROW_GROUPS}


# ---------------------------------------------------------------------------
# llm_dedup: Zipfian corpus with planted exact and near duplicates
# ---------------------------------------------------------------------------

VOCAB = 30_000
ZIPF_S = 1.1
NEAR_DUP_THRESHOLD = 0.7
SHINGLE_N = 3
EMAIL = "<EMAIL>"  # what cleaning turns an e-mail address into


def _vocab(rng: np.random.Generator) -> list[str]:
    """VOCAB distinct lowercase words; the last id is the e-mail
    placeholder token."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, VOCAB)
    chars = letters[rng.integers(0, 26, (VOCAB, 9))]
    words: dict[str, None] = {}
    for i, (row, k) in enumerate(zip(chars.tolist(), lens.tolist())):
        w = "".join(row[:k])
        while w in words:  # keep VOCAB distinct words, letters only
            w += letters[i % 26]
        words[w] = None
    return list(words) + [EMAIL]


def shingle_codes(ids: np.ndarray) -> np.ndarray:
    """Distinct n-token shingles of one document as int64 codes, one
    per distinct token triple (documents shorter than n tokens are one
    whole-document shingle). Injective for vocabularies below 2**20
    words, so set algebra on codes is exact Jaccard on shingles."""
    ids = ids.astype(np.int64)
    if len(ids) < SHINGLE_N:
        ids = np.concatenate([ids, np.full(SHINGLE_N - len(ids), -1)]) + 1
        return np.array([(ids[0] << 40) | (ids[1] << 20) | ids[2]])
    return np.unique((ids[:-2] << 40) | (ids[1:-1] << 20) | ids[2:])


def jaccard(a: np.ndarray, b: np.ndarray) -> float:
    inter = len(np.intersect1d(a, b, assume_unique=True))
    return inter / (len(a) + len(b) - inter)


class Corpus:
    """What the checker knows about a generated corpus: each
    document's cleaned token ids, and the planted near-dup pairs."""

    def __init__(self, docs: list[np.ndarray], near_pairs: list[tuple[int, int]],
                 word_len: np.ndarray):
        self.docs = docs
        self.near_pairs = near_pairs
        self.word_len = word_len  # characters per token id


def gen_corpus(seed: int, out: str, n_docs: int) -> tuple[dict, Corpus]:
    """Documents with a Zipfian vocabulary. A share of documents are
    exact copies of another document (after cleaning), a share are
    near copies (about 3% of tokens replaced). Raw text carries markup
    and e-mail addresses that cleaning must remove, so some exact
    copies only match after cleaning. Writes ``docs.parquet``
    (doc_id, text)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    vocab = _vocab(rng)
    email_id = len(vocab) - 1
    ranks = np.arange(1, email_id + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    cdf = np.cumsum(p / p.sum())
    cdf[-1] = 1.0

    n_exact = int(n_docs * 0.05)
    n_near = int(n_docs * 0.10)
    n_base = n_docs - n_exact - n_near
    lens = rng.integers(40, 160, n_base)
    flat = np.searchsorted(cdf, rng.random(int(lens.sum())))
    docs = np.split(flat, np.cumsum(lens)[:-1])
    # every 7th base document mentions an e-mail address
    emails = {}
    for i in range(0, n_base, 7):
        pos = int(rng.integers(0, len(docs[i])))
        docs[i] = np.insert(docs[i], pos, email_id)
        emails[i] = f"user{int(rng.integers(0, 10**6))}@mail{i % 97}.example.com"

    near_pairs = []
    for src in rng.choice(n_base, n_near, replace=False).tolist():
        toks = docs[src].copy()
        k = max(1, round(0.03 * len(toks)))
        pos = rng.choice(len(toks), k, replace=False)
        toks[pos] = np.searchsorted(cdf, rng.random(k))
        near_pairs.append((src, len(docs)))
        docs.append(toks)
    for src in rng.choice(n_base, n_exact, replace=False).tolist():
        docs.append(docs[src])

    words = np.array(vocab, dtype=object)
    texts = []
    for i, toks in enumerate(docs):
        raw = words[toks]
        # every <EMAIL> token is an address in the raw text
        raw[toks == email_id] = emails.get(i, f"info@mail{i % 97}.example.com")
        body = " ".join(raw.tolist())
        # markup follows the position, so an exact copy and its source
        # often differ in markup and match only after cleaning
        texts.append(f"<p>{body}</p>" if i % 3 == 0 else body)

    # shuffle so duplicates are not adjacent; doc_id is the new order
    order = rng.permutation(len(docs))
    new_id = np.empty_like(order)
    new_id[order] = np.arange(len(order))
    _write(pa.table({
        "doc_id": pa.array(np.arange(len(order), dtype=np.int64)),
        "text": pa.array([texts[j] for j in order.tolist()]),
    }), f"{out}/docs.parquet")
    corpus = Corpus(
        [docs[j] for j in order.tolist()],
        sorted((int(min(new_id[a], new_id[b])), int(max(new_id[a], new_id[b])))
               for a, b in near_pairs),
        np.array([len(w) for w in vocab]),
    )

    codes = [shingle_codes(d) for d in corpus.docs]
    _, df = np.unique(np.concatenate(codes), return_counts=True)
    distinct = len({d.tobytes() for d in corpus.docs})
    return {
        "rows": {"docs": len(docs)},
        "exact_dup_share": round(1 - distinct / len(docs), 6),
        "near_dup_share": round(n_near / len(docs), 6),
        "max_shingle_doc_freq": int(df.max()),
        "row_groups_per_file": ROW_GROUPS,
    }, corpus
