"""Seeded inputs for the benchmark.

`corpus` writes a tweet-like ASCII corpus as `documents.parquet` and returns
the exact word counts the program must produce for it. `fixture` writes the
ten parquet tables the registry queries read (the shapes described in the
repo's FIXTURES.md). The same seed always gives byte-identical files.

    python3 perfbench/gen.py corpus <seed> <dir>
    python3 perfbench/gen.py fixture <seed> <dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Word-count corpus: a Zipf(s) draw over a vocabulary of VOCAB words.
VOCAB = 300_000
ZIPF_S = 0.9
TOKENS = 400_000
DOC_TOKENS = (5, 30)
# Written as a directory of part files, one per map task of the reference.
PARTS = 4

# Registry fixture: row counts at scale factor FIXTURE_SF.
FIXTURE_SF = 0.01

INNER = ["'", "-", ".", "_", "&"]
LEAD = ["#", "@", "(", '"', "*"]
TRAIL = [",", ".", "!", "?", ":", ";", ")", '"', "!!", "..."]
# Runs of whitespace, and stand-alone punctuation that normalizes away.
SEPS = np.array([" "] * 12 + ["  ", "   ", "\t", " \t ", " - ", " ... ", " & "], dtype=object)


def _write(table, path):
    """One row group, snappy, no embedded Arrow schema: the same table always
    gives the same bytes."""
    pq.write_table(table, path, row_group_size=max(1, table.num_rows), compression="snappy",
                   write_statistics=True, store_schema=False)


def vocabulary(rng, n):
    """`n` distinct lower-case words of 3 to 10 letters; one in twenty has
    two digits appended."""
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789", dtype=np.uint8)
    words = np.empty(0, dtype="U12")
    while len(words) < n:
        k = 2 * (n - len(words))
        codes = alphabet[rng.integers(0, 26, size=(k, 12))]
        lengths = rng.integers(3, 11, size=k)
        digits = rng.random(k) < 0.05
        codes[np.arange(12) >= lengths[:, None]] = 0
        rows = np.flatnonzero(digits)
        codes[rows, lengths[rows]] = alphabet[rng.integers(26, 36, size=rows.size)]
        codes[rows, lengths[rows] + 1] = alphabet[rng.integers(26, 36, size=rows.size)]
        words = np.concatenate([words, codes.view("S12").ravel().astype("U12")])
        _, first = np.unique(words, return_index=True)
        words = words[np.sort(first)]
    return words[:n].tolist()


def surface_forms(rng, words):
    """Six spellings per word that all normalize back to it: as is,
    Capitalized, UPPER, punctuation inside, before and after."""
    n = len(words)
    inner = rng.integers(0, len(INNER), size=n)
    lead = rng.integers(0, len(LEAD), size=n)
    trail = rng.integers(0, len(TRAIL), size=n)
    forms = np.empty((n, 6), dtype=object)
    forms[:, 0] = words
    forms[:, 1] = [w.capitalize() for w in words]
    forms[:, 2] = [w.upper() for w in words]
    forms[:, 3] = [w[:2] + INNER[i] + w[2:] for w, i in zip(words, inner)]
    forms[:, 4] = [LEAD[i] + w for w, i in zip(words, lead)]
    forms[:, 5] = [w + TRAIL[i] for w, i in zip(words, trail)]
    return forms


def corpus(seed, out_dir, tokens=TOKENS):
    """Writes `documents.parquet/` under `out_dir`; returns {word: count}."""
    rng = np.random.Generator(np.random.PCG64(seed))
    words = vocabulary(rng, VOCAB)
    forms = surface_forms(rng, words)
    p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    ids = rng.choice(VOCAB, size=tokens, p=p / p.sum())
    form = rng.choice(6, size=tokens, p=[0.62, 0.14, 0.04, 0.06, 0.06, 0.08])
    parts = np.empty(2 * tokens, dtype=object)
    parts[0::2] = forms[ids, form]
    parts[1::2] = SEPS[rng.integers(0, len(SEPS), size=tokens)]
    lengths = rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1, size=tokens // DOC_TOKENS[0])
    bounds = np.minimum(np.concatenate([[0], np.cumsum(lengths)]), tokens)
    bounds = bounds[:np.searchsorted(bounds, tokens) + 1]
    texts = ["".join(parts[2 * a:2 * b - 1]) for a, b in zip(bounds[:-1], bounds[1:])]
    n_docs = len(texts)
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(np.array(["en", "es", "fr", "de", "zh"])[rng.integers(0, 5, n_docs)]),
        "source": pa.array(np.char.add("src", (np.arange(n_docs) % 20).astype(str))),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    path = os.path.join(out_dir, "documents.parquet")
    os.makedirs(path, exist_ok=True)
    step = -(-n_docs // PARTS)
    for i in range(PARTS):
        _write(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))
    counts = np.bincount(ids, minlength=VOCAB)
    return {words[i]: int(c) for i in np.flatnonzero(counts) for c in [counts[i]]}


def _ts(days_from, n_days, rng, n, base="1995-01-01"):
    start = np.datetime64(base, "D") + days_from
    return (start + rng.integers(0, n_days, n).astype("timedelta64[D]")).astype("datetime64[us]")


def fixture(seed, out_dir, sf=FIXTURE_SF):
    """Writes the ten registry tables under `out_dir`."""
    rng = np.random.Generator(np.random.PCG64(seed))
    os.makedirs(out_dir, exist_ok=True)
    n = {k: max(1, int(v * sf)) for k, v in dict(
        customer=150_000, supplier=10_000, part=200_000, orders=1_500_000,
        lineitem=6_000_000, events=1_000_000, documents=50_000, embeddings=50_000).items()}
    users = max(10, int(15_000 * sf))

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    def pick(values, k, p=None):
        return pa.array(np.array(values)[rng.choice(len(values), size=k, p=p)])

    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    k = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(k, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
        "c_nationkey": pa.array(rng.integers(0, 25, k).astype(np.int32)),
        "c_acctbal": pa.array(money(-999.99, 9999.99, k)),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], k)})
    k = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(k, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)]),
        "s_nationkey": pa.array(rng.integers(0, 25, k).astype(np.int32)),
        "s_acctbal": pa.array(money(-999.99, 9999.99, k))})
    k = n["part"]
    adj = ["blue", "old", "small", "new", "red", "large", "hot", "cold"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(k, dtype=np.int64)),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (k, 2))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, k)]),
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], k),
        "p_size": pa.array(rng.integers(1, 51, k).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(k) % 1000) * 0.1, 1))})
    k = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k).astype(np.int64)),
        "o_orderstatus": pick(["F", "O", "P"], k),
        "o_totalprice": pa.array(money(1000, 500000, k)),
        "o_orderdate": pa.array(_ts(0, 2404, rng, k)),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], k)})
    k = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n["part"], k).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, k).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, k).astype(np.float64)),
        "l_extendedprice": pa.array(money(900, 105000, k)),
        "l_discount": pa.array(rng.integers(0, 11, k) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, k) / 100.0),
        "l_returnflag": pick(["A", "N", "R"], k),
        "l_linestatus": pick(["F", "O"], k),
        "l_shipdate": pa.array(_ts(1, 2498, rng, k))})
    k = n["events"]
    micros = np.sort(rng.integers(0, 30 * 86_400_000_000, k))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(k, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + micros.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, users, k).astype(np.int64)),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], k),
        "value": pa.array(np.round(rng.exponential(50.0, k), 2)),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)])})
    k = n["documents"]
    words = np.array("spark window merge table column vector stream value data small join "
                     "filter big group hash customer sort order slow line part fast row the "
                     "agg key query a scan batch".split())
    texts = []
    for i in range(k):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(k, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pick(["en", "zh", "de", "fr", "es"], k, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in range(k)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    k = n["embeddings"]
    labels = rng.integers(0, 10, k)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (k, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(k, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    kind, seed, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    if kind == "corpus":
        counts = corpus(seed, out)
        print(f"{len(counts)} distinct words, {sum(counts.values())} tokens")
    else:
        fixture(seed, out)
