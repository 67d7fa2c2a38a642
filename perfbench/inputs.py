"""Seeded input builders for the benchmark workloads.

Every input is built here, in numpy/pandas, from the workload seed and
written as parquet (or JSONL shards) under the run's work directory.
The engine only ever receives the finished files; the seed never
reaches it.

The documents table copies the shape of the catalog's ``documents``
test table: 10-100 tokens drawn uniformly from a 30-word vocabulary,
about 5% planted near-duplicates (an earlier document's text plus the
token ``dup``) and a few byte-identical copies.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
NEAR_DUP_FRAC = 0.05
EXACT_DUP_FRAC = 0.0016


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, size=n)
    toks = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    words = np.array(VOCAB, dtype=object)[toks]
    cuts = np.cumsum(lens)[:-1]
    return [" ".join(w) for w in np.split(words, cuts)]


def make_documents(seed: int, n_docs: int) -> tuple[pd.DataFrame, list[tuple[int, int]]]:
    """The catalog ``documents`` table (doc_id, text, lang, source,
    n_chars) plus the planted (original, near-duplicate) doc_id pairs."""
    rng = np.random.default_rng([seed, 1])
    texts = _texts(rng, n_docs)
    n_near = int(n_docs * NEAR_DUP_FRAC)
    n_exact = max(1, int(n_docs * EXACT_DUP_FRAC))
    # targets come from the second half, originals from the first, so a
    # planted copy never becomes another plant's original
    half = n_docs // 2
    targets = rng.choice(np.arange(half, n_docs), size=n_near + n_exact,
                         replace=False)
    origins = rng.integers(0, half, size=n_near + n_exact)
    planted = []
    for k, (dst, src) in enumerate(zip(targets.tolist(), origins.tolist())):
        if k < n_near:
            texts[dst] = texts[src] + " dup"
            planted.append((src, dst))
        else:
            texts[dst] = texts[src]
    docs = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, size=n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
    })
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)
    return docs, planted


def make_orders(seed: int, n_orders: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """TPC-H-shaped ``orders`` and ``lineitem`` (1-7 lines per order)."""
    rng = np.random.default_rng([seed, 2])
    keys = np.arange(1, n_orders + 1, dtype=np.int64)
    epoch = np.datetime64("1992-01-01", "us")
    days = rng.integers(0, 2400, size=n_orders).astype("timedelta64[D]")
    orders = pd.DataFrame({
        "o_orderkey": keys,
        "o_custkey": rng.integers(1, n_orders // 10 + 2, size=n_orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], size=n_orders),
        "o_totalprice": np.round(rng.uniform(900, 500000, size=n_orders), 2),
        "o_orderdate": epoch + days,
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            size=n_orders),
    })
    per = rng.integers(1, 8, size=n_orders)
    n_li = int(per.sum())
    li_key = np.repeat(keys, per)
    starts = np.repeat(np.cumsum(per) - per, per)
    lineitem = pd.DataFrame({
        "l_orderkey": li_key,
        "l_partkey": rng.integers(1, 20001, size=n_li),
        "l_suppkey": rng.integers(1, 1001, size=n_li),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, size=n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, size=n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, size=n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, size=n_li) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], size=n_li),
        "l_linestatus": rng.choice(["F", "O"], size=n_li),
        "l_shipdate": np.repeat(orders["o_orderdate"].to_numpy(), per)
        + rng.integers(1, 122, size=n_li).astype("timedelta64[D]"),
    })
    return orders, lineitem


def write_catalog(out_dir: str, seed: int, n_docs: int, n_orders: int) -> None:
    """Write the documents/orders/lineitem parquet files."""
    os.makedirs(out_dir, exist_ok=True)
    docs, _ = make_documents(seed, n_docs)
    orders, lineitem = make_orders(seed, n_orders)
    for name, df in (("documents", docs), ("orders", orders),
                     ("lineitem", lineitem)):
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)


def input_hint(docs: pd.DataFrame) -> pd.DataFrame:
    """The pipeline's input shape (repo, path, commit, lang, content)."""
    return pd.DataFrame({
        "repo": docs["source"],
        "path": "doc/" + docs["doc_id"].astype(str),
        "commit": [hashlib.sha256(t.encode()).hexdigest()[:40]
                   for t in docs["text"]],
        "lang": docs["lang"],
        "content": docs["text"],
    })


def replicate(docs: pd.DataFrame, copies: int, distinct: bool) -> pd.DataFrame:
    """``copies`` copies of the input-hint table with a distinct
    (repo, path) per copy. ``distinct=True`` suffixes every token with
    the copy index (``keyc3``), so each copy's content and shingle set is
    unique and no cluster can span copies; otherwise the copies are
    byte-identical."""
    base = input_hint(docs)
    parts = []
    for c in range(copies):
        part = base.copy()
        part["repo"] = part["repo"] + f"#{c}"
        if distinct:
            sfx = f"c{c}"
            part["content"] = [" ".join(t + sfx for t in s.split(" "))
                               for s in part["content"]]
        parts.append(part)
    return pd.concat(parts, ignore_index=True)


def write_stream_shards(out_dir: str, seed: int, history: pd.DataFrame,
                        n_shards: int, per_shard: int) -> list[tuple[str, str, str, str]]:
    """JSONL shards of new documents for the streaming workload. Half
    of each shard are planted near-duplicates (a history document plus
    two tail tokens), the other half fresh documents. Returns the
    planted pairs as (history repo, path, commit, new path); new
    documents all have repo ``stream`` and commit ``c0``."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    # sources have unique content: an exact-duplicate member is not
    # fingerprinted (its class representative is), so an edge to it
    # would name the representative instead
    unique = np.flatnonzero(~history["content"].duplicated(keep=False).to_numpy())
    planted = []
    for s in range(n_shards):
        n_dup = per_shard // 2
        fresh = _texts(rng, per_shard - n_dup)
        picks = rng.choice(unique, size=n_dup, replace=False)
        tails = rng.integers(0, len(VOCAB), size=(n_dup, 2))
        rows = []
        for k, (h, tail) in enumerate(zip(picks.tolist(), tails.tolist())):
            src = history.iloc[h]
            path = f"new/{s}/{k}"
            content = src["content"] + " " + " ".join(VOCAB[t] for t in tail)
            rows.append({"repo": "stream", "path": path, "commit": "c0",
                         "lang": src["lang"], "content": content})
            planted.append((src["repo"], src["path"], src["commit"], path))
        for k, text in enumerate(fresh, start=n_dup):
            rows.append({"repo": "stream", "path": f"new/{s}/{k}",
                         "commit": "c0", "lang": "en", "content": text})
        # name shards so lexical order is arrival order
        with open(os.path.join(out_dir, f"shard-{s:05d}.jsonl"), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
    return planted
