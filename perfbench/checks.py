"""Correctness checks, run by the parent process after the measured
child has exited, so they never count toward a timing.

- bi_mix: each query's output equals its registry oracle
  (``oracle_sql()``) run by DuckDB on the same generated files.
- llm_dedup: every reported near-dup pair has exact Jaccard at or
  above the threshold and joins two exact-dedup survivors; every read
  of the corpus table, and the final table (survivors and their
  per-document stats), equal a replay of the batches computed from
  the planted corpus.
"""

from __future__ import annotations

import math
from collections import Counter

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench import gen

STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True) if len(df) else df


def _rows(df: pd.DataFrame) -> Counter:
    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return None
        return float(v) if isinstance(v, (float, np.floating)) or hasattr(v, "as_tuple") else v
    df = df.reindex(sorted(df.columns), axis=1)
    return Counter(tuple(cell(v) for v in row) for row in df.itertuples(index=False))


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> tuple[list[str], int]:
    """(problems, rows of ``want`` matched in ``got``): exact values,
    order-insensitive; floats compare as doubles."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"], 0
    problems = []
    if len(got) != len(want):
        problems.append(f"rows {len(got)} != {len(want)}")
    else:
        a, b = _normalize(got), _normalize(want)
        for c in a.columns:
            av, bv = a[c], b[c]
            if av.dtype.kind == "f" or bv.dtype.kind == "f" or av.dtype == object and len(av) and hasattr(av.iloc[0], "as_tuple"):
                af, bf = av.astype(float).to_numpy(), bv.astype(float).to_numpy()
                eq = (af == bf) | (np.isnan(af) & np.isnan(bf))
            else:
                eq = ((av == bv) | (av.isna() & bv.isna())).to_numpy()
            if not eq.all():
                problems.append(f"column {c}: {int((~eq).sum())} values differ")
    if not problems:
        return [], len(want)
    return problems, sum((_rows(got) & _rows(want)).values())


def check_bi(data: str, out: str, oracles: dict[str, str], checked: dict) -> dict:
    """Per query: None when the output equals the oracle, else the
    problem; output rows per query; matched and expected row totals."""
    con = duckdb.connect()
    for t in STAR_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    verdict, rows, matched, expected = {}, {}, 0, 0
    for q, error in checked.items():
        want = con.sql(oracles[q]).df()
        expected += len(want)
        if error is not None:
            verdict[q] = error
            continue
        got = pq.read_table(f"{out}/{q}").to_pandas()
        rows[q] = len(got)
        problems, m = compare_frames(got, want)
        matched += m
        verdict[q] = "; ".join(problems) or None
    con.close()
    return {"verdict": verdict, "rows": rows, "matched_rows": matched, "expected_rows": expected}


def check_llm(corpus: gen.Corpus, out: str) -> dict:
    """One batch: problems with the reported near-dup pairs, the
    planted near-dup recall, and the ids the batch must keep and
    delete (exact-dup survivors outside / inside near-dup clusters)."""
    problems = []
    docs = corpus.docs
    rep: dict[bytes, int] = {}
    for i, d in enumerate(docs):
        rep.setdefault(d.tobytes(), i)
    rep_of = np.array([rep[d.tobytes()] for d in docs])
    exact = set(rep.values())

    pairs = pq.read_table(f"{out}/pairs.parquet").to_pydict()
    found = set()
    codes: dict[int, np.ndarray] = {}

    def sh(i):
        if i not in codes:
            codes[i] = gen.shingle_codes(docs[i])
        return codes[i]

    removed = low = 0
    for a, b in zip(pairs["id_a"], pairs["id_b"]):
        if a not in exact or b not in exact:
            removed += 1
        elif gen.jaccard(sh(a), sh(b)) < gen.NEAR_DUP_THRESHOLD:
            low += 1
        found.add((min(a, b), max(a, b)))
    if removed:
        problems.append(f"{removed} pairs name a document that exact dedup removed")
    if low:
        problems.append(f"{low} pairs have exact Jaccard below the threshold")
    planted = set()
    for a, b in corpus.near_pairs:
        ra, rb = int(rep_of[a]), int(rep_of[b])
        if ra != rb and gen.jaccard(sh(ra), sh(rb)) >= gen.NEAR_DUP_THRESHOLD:
            planted.add((min(ra, rb), max(ra, rb)))

    # canonical survivors: the min id of each connected component
    parent: dict[int, int] = {}

    def root(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for a, b in sorted(found):
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    kept = {i for i in exact if root(i) == i}
    return {"problems": problems, "recall": len(planted & found) / len(planted),
            "kept": kept, "deleted": exact - kept}


def doc_row(corpus: gen.Corpus, i: int) -> tuple[int, int, int]:
    """(doc_id, n_tokens, n_chars) of a document's cleaned text."""
    d = corpus.docs[i]
    return (i, len(d), int(corpus.word_len[d].sum()) + len(d) - 1)


def check_corpus_table(warm: gen.Corpus, corpus: gen.Corpus, out: str, batches: list[dict]) -> dict:
    """Replays the warm-up batch and every measured batch into the
    corpus table (upsert survivors, delete near-dup losers) and checks
    each batch's three reads and the final table against the replay.
    ``batches`` are the measured batch records in run order."""
    w = check_llm(warm, f"{out}/warm")
    state = {i: doc_row(warm, i) for i in w["kept"]}
    problems: dict[int, dict[str, list[str]]] = {}
    recalls, overlaps = [], []

    def agg(st):
        return [(len(st), sum(r[1] for r in st.values()))]

    for n, rec in enumerate(batches):
        # problems per operation: the batch itself and its three reads
        p = problems[n] = {"batch": list(w["problems"]) if n == 0 else [],
                           "point": [], "agg": [], "tt": []}
        if rec["error"]:
            p["batch"].append(rec["error"])
            for kind in ("point", "agg", "tt"):
                p[kind].append("not run: the batch failed")
            continue
        chk = check_llm(corpus, rec["out"])
        p["batch"] += chk["problems"]
        recalls.append(chk["recall"])
        before = agg(state)
        source = chk["kept"] | chk["deleted"]
        overlaps.append(len(source & state.keys()) / len(source))
        for i in chk["deleted"]:
            state.pop(i, None)
        for i in chk["kept"]:
            state[i] = doc_row(corpus, i)
        key = rec["point_key"]
        want = [state[key]] if key in state else []
        for kind, expect in (("point", want), ("agg", agg(state)), ("tt", before)):
            if rec[kind] is None:
                p[kind].append(rec["read_error"])
            elif [tuple(r) for r in rec[kind]] != expect:
                p[kind].append(f"{kind} read {rec[kind]} != replay {expect}")
    got = pq.read_table(f"{out}/final").to_pandas()
    final = []
    rows = set(zip(got["doc_id"], got["n_tokens"], got["n_chars"]))
    want = set(state.values())
    if rows != want or len(got) != len(want):
        final.append(f"final table has {len(got)} rows, replay {len(want)}; "
                     f"{len(want - rows)} replay rows missing")
    q = got["quality"].to_numpy()
    if not ((q >= 0) & (q <= 1)).all() or got["lang"].isna().any():
        final.append("quality or language out of range")
    return {"problems": problems, "final": final, "recalls": recalls,
            "merge_key_overlap": overlaps,
            "matched_rows": len(rows & want), "expected_rows": len(want)}
