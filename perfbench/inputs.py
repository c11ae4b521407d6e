"""Seeded benchmark inputs.

The Swivel workload reads a generated corpus: one document per line, tokens
separated by single spaces, drawn from a Zipf law over a fixed number of
word types, with Poisson document lengths. The operator suite reads a
multi-split copy of the committed fixture tables, from which the seed drops
a sample of orders (with their line items) and of events.

Every input is cached under the cache directory by a digest of
(seed, parameters); building it is never timed.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE_DIR = os.path.join(HERE, "fixtures", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# files per table in the suite's copy: the split counts of graft.Bench v5
SPLITS = {"lineitem": 32, "documents": 8, "events": 4, "orders": 4}
# share of orders (with their line items) and of events the seed keeps
SUITE_KEEP = 0.95


def digest(obj):
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()[:16]


def _publish(tmp, final):
    """Moves a finished build into place; a concurrent twin may win."""
    try:
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)


def _words(rng, n):
    """n distinct lowercase words of 3 to 9 letters."""
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    words, seen = [], set()
    while len(words) < n:
        k = n - len(words)
        lens = rng.integers(3, 10, size=k)
        codes = letters[rng.integers(0, 26, size=(k, 9))]
        for row, m in zip(codes, lens):
            w = row[:m].tobytes().decode()
            if w not in seen:
                seen.add(w)
                words.append(w)
    return words


def corpus(seed, params, cache_dir):
    """Writes the corpus for (seed, params); returns (path, digest)."""
    d = digest({"seed": seed, **params})
    path = os.path.join(cache_dir, f"corpus-{d}.txt")
    if os.path.exists(path):
        return path, d
    rng = np.random.default_rng(seed)
    words = np.array(_words(rng, params["types"]), dtype=object)
    ranks = np.arange(1, params["types"] + 1, dtype=np.float64)
    p = ranks ** -params["zipf_s"]
    p /= p.sum()
    lens = []
    total = 0
    while total < params["tokens"]:
        n = max(1, int(rng.poisson(params["mean_doc_tokens"])))
        lens.append(n)
        total += n
    ids = rng.choice(len(words), size=total, p=p)
    toks = words[ids]
    tmp = path + f".tmp{os.getpid()}"
    with open(tmp, "w") as f:
        at = 0
        for n in lens:
            f.write(" ".join(toks[at:at + n]))
            f.write("\n")
            at += n
    os.replace(tmp, path)
    return path, d


def suite_tables(seed, cache_dir):
    """Builds the suite's table copy for the seed; returns (dir, digest).

    Orders are sampled with all their line items, so every kept line item
    still has its order."""
    files = {t: os.path.join(FIXTURE_DIR, f"{t}.parquet") for t in TABLES}
    fixture = hashlib.sha256()
    for t in TABLES:
        with open(files[t], "rb") as f:
            fixture.update(f.read())
    d = digest({"seed": seed, "keep": SUITE_KEEP, "splits": SPLITS,
                "fixture": fixture.hexdigest()})
    root = os.path.join(cache_dir, f"tables-{d}")
    if os.path.isdir(root):
        return root, d
    rng = np.random.default_rng(seed)
    tabs = {t: pq.read_table(files[t]) for t in TABLES}
    orders = tabs["orders"]
    keep = rng.random(orders.num_rows) < SUITE_KEEP
    tabs["orders"] = orders.filter(pa.array(keep))
    kept_keys = tabs["orders"].column("o_orderkey")
    tabs["lineitem"] = tabs["lineitem"].filter(
        pc.is_in(tabs["lineitem"].column("l_orderkey"), value_set=kept_keys))
    events = tabs["events"]
    tabs["events"] = events.filter(pa.array(rng.random(events.num_rows) < SUITE_KEEP))
    tmp = root + f".tmp{os.getpid()}"
    for t, tab in tabs.items():
        out = os.path.join(tmp, f"{t}.parquet")
        os.makedirs(out)
        n = SPLITS.get(t, 1)
        for i in range(n):
            a, b = tab.num_rows * i // n, tab.num_rows * (i + 1) // n
            pq.write_table(tab.slice(a, b - a), os.path.join(out, f"part-{i:05d}.parquet"))
    _publish(tmp, root)
    return root, d
