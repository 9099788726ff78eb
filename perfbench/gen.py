"""Seeded input generator: the ten fixture tables, written as parquet.

Schemas follow the fixture tables (FIXTURES.md section B) and the value
domains follow their sf0.1 instance: region/nation are fixed, every key column
is a uniform draw over its parent table (so foreign keys always resolve),
``lang`` is 41% ``en`` over five languages and ``source`` cycles through 20
values. ``scale`` is relative to sf0.1 (1.0 = 15k customers, 150k orders,
600k lineitems, 100k events, 2k embeddings); the document count is set on
its own so a corpus workload can be large while the relational tables stay
small.

Document text is a Zipf(1.0) draw over a fixed vocabulary of
``VOCAB_SIZE`` words whose head is the stop-word list the quality rules
look for. A fixed share of documents are exact copies of an earlier
document (``EXACT_DUP_SHARE``) and another share are near copies with
about one word in ten replaced (``NEAR_DUP_SHARE``); the first 50 doc ids,
which the decontamination query treats as the benchmark set, are never
copies.

The same (seed, scale, docs) always gives byte-identical files; a different
seed gives the same schemas and row counts with different content. Output
is cached under ``<root>/<key>`` where the key names the generator version,
seed, scale and document count; only the newest ``CACHE_KEEP`` sets stay.

    python3 perfbench/gen.py --seed 1 --scale 1 --docs 5000 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1
VOCAB_SIZE = 8000
ZIPF_EXPONENT = 1.0
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.05
NEAR_DUP_EDIT_SHARE = 0.1
WORDS_MIN, WORDS_MAX = 10, 100  # per document, uniform (the fixture's range)
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
HEAD_WORDS = ("the", "of", "and", "a", "to", "in", "is", "was", "for", "on")
CACHE_KEEP = 8

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def vocabulary() -> list[str]:
    """The seed-independent word list, most frequent first."""
    rng = np.random.default_rng(20240101)
    onsets = list("bcdfghjklmnprstvwz") + ["ch", "sh", "th", "st", "tr", "pl"]
    vowels = ["a", "e", "i", "o", "u", "ae", "io", "ou"]
    words = list(HEAD_WORDS)
    seen = set(words)
    while len(words) < VOCAB_SIZE:
        n_syl = int(rng.integers(1, 5))
        w = "".join(
            onsets[int(rng.integers(len(onsets)))] + vowels[int(rng.integers(len(vowels)))]
            for _ in range(n_syl)
        )
        if rng.random() < 0.4:
            w += onsets[int(rng.integers(len(onsets)))][0]
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def cache_key(seed: int, scale: float, docs: int) -> str:
    return f"v{GEN_VERSION}-seed{seed}-scale{scale:g}-docs{docs}"


def _rows(scale: float, base: int) -> int:
    return max(1, int(round(base * scale)))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _ts(days_or_us: np.ndarray) -> pa.Array:
    return pa.array(days_or_us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _tables(seed: int, scale: float, docs: int) -> dict[str, pa.Table]:
    def rng(i: int):
        return np.random.default_rng([seed, i])

    n_cust = _rows(scale, 15_000)
    n_supp = _rows(scale, 1_000)
    n_part = _rows(scale, 20_000)
    n_ord = _rows(scale, 150_000)
    n_li = _rows(scale, 600_000)
    n_ev = _rows(scale, 100_000)
    n_users = _rows(scale, 1_500)
    n_emb = _rows(scale, 2_000)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    r = rng(1)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
            "c_mktsegment": segs[r.integers(0, 5, n_cust)],
        }
    )

    r = rng(2)
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
        }
    )

    r = rng(3)
    adjs = ["large", "hot", "blue", "small", "red", "cold", "green", "tiny"]
    nouns = ["ring", "bolt", "anvil", "widget", "gear", "valve", "spring", "nut"]
    names = np.array([f"{a} {b}" for a in adjs for b in nouns])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": names[r.integers(0, len(names), n_part)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[r.integers(0, 25, n_part)],
            "p_type": types[r.integers(0, 6, n_part)],
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": 900.0 + r.integers(0, 1000, n_part) / 10.0,
        }
    )

    r = rng(4)
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
            "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(_EPOCH_1995 + r.integers(0, 2405, n_ord) * _US_PER_DAY),
            "o_orderpriority": prios[r.integers(0, 5, n_ord)],
        }
    )

    r = rng(5)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
            "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105000.0, n_li),
            "l_discount": r.integers(0, 11, n_li) / 100.0,
            "l_tax": r.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
            "l_shipdate": _ts(_EPOCH_1995 + (1 + r.integers(0, 2499, n_li)) * _US_PER_DAY),
        }
    )

    r = rng(6)
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(_EPOCH_2024 + np.sort(r.integers(0, 30 * _US_PER_DAY, n_ev))),
            "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
            "event_type": etypes[r.integers(0, 5, n_ev)],
            "value": np.round(r.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
        }
    )

    t["documents"] = _documents(rng(7), docs)

    r = rng(8)
    emb = r.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(emb.reshape(-1), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(r.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return t


def _documents(r, n: int) -> pa.Table:
    vocab = np.array(vocabulary())
    p = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_EXPONENT
    p /= p.sum()
    lens = r.integers(WORDS_MIN, WORDS_MAX + 1, n)
    ids = r.choice(VOCAB_SIZE, size=int(lens.sum()), p=p)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    # which documents copy an earlier one: never the 50-doc benchmark set
    kind = r.random(n)
    copy_of = (r.random(n) * np.maximum(np.arange(n), 1)).astype(np.int64)
    edit_ids = r.choice(VOCAB_SIZE, size=int(lens.sum()), p=p)
    edit_mask = r.random(int(lens.sum())) < NEAR_DUP_EDIT_SHARE
    texts: list[str] = []
    for i in range(n):
        if i >= 50 and kind[i] < EXACT_DUP_SHARE:
            texts.append(texts[copy_of[i]])
            continue
        s, e = starts[i], starts[i] + lens[i]
        if i >= 50 and kind[i] < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            src = texts[copy_of[i]].split(" ")
            m = edit_mask[s : s + len(src)]
            repl = vocab[edit_ids[s : s + len(src)]]
            texts.append(" ".join(repl[j] if j < len(m) and m[j] else w for j, w in enumerate(src)))
            continue
        texts.append(" ".join(vocab[ids[s:e]]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[r.choice(len(LANGS), size=n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )


def generate(root: str, seed: int, scale: float, docs: int) -> tuple[str, dict]:
    """Write (or reuse) the input set; return its directory and a summary."""
    out = os.path.join(root, cache_key(seed, scale, docs))
    manifest = os.path.join(out, "_manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            info = json.load(f)
        info["cached"] = True
        return out, info
    t0 = time.perf_counter()
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rows = {}
    for name, tbl in _tables(seed, scale, docs).items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"), compression="snappy")
        rows[name] = tbl.num_rows
    info = {
        "key": cache_key(seed, scale, docs),
        "rows": rows,
        "bytes": {n: os.path.getsize(os.path.join(tmp, f"{n}.parquet")) for n in rows},
        "vocab_size": VOCAB_SIZE,
        "zipf_exponent": ZIPF_EXPONENT,
        "exact_dup_share": EXACT_DUP_SHARE,
        "near_dup_share": NEAR_DUP_SHARE,
    }
    with open(os.path.join(tmp, "_manifest.json"), "w") as f:
        json.dump(info, f, sort_keys=True)
    info["gen_s"] = time.perf_counter() - t0
    try:
        os.rename(tmp, out)
    except OSError:  # another process finished the same key first
        shutil.rmtree(tmp, ignore_errors=True)
    info["cached"] = False
    _prune(root, keep=out)
    return out, info


def _prune(root: str, keep: str) -> None:
    """Bound the cache: drop all but the CACHE_KEEP newest input sets."""
    sets = sorted(
        (os.path.join(root, d) for d in os.listdir(root) if d.startswith(f"v{GEN_VERSION}-") and ".tmp" not in d),
        key=os.path.getmtime,
        reverse=True,
    )
    for d in sets[CACHE_KEEP:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--docs", type=int, default=5000)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    data_dir, info = generate(a.out, a.seed, a.scale, a.docs)
    print(json.dumps({"dir": data_dir, **info}, sort_keys=True))


if __name__ == "__main__":
    main()
