"""Seeded input generator of the benchmark.

Writes the tables the program reads (graft.Tables: one parquet file per
table) in the shape of the project's sf0.1 test data: the same schemas,
value domains, key ranges and row counts, a 30-word document vocabulary
in which one document in twenty is a near-copy of another ("<text> dup"),
naive microsecond timestamps.

The base corpus and tables come from a fixed seed (CORPUS_SEED), so the
catalog queries' literals match and every workload seed asks for the
same amount of work. The workload seed varies what the workload is
about: the ingest arrival sample and kinds here; the query order and the
letter permutation of the refinery corpus and of new arrivals in the
harness, which applies graft.ScaleSynth's vetted permutation for the
seed while it sets up.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
SF01 = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
        "lineitem": 600000, "events": 100000, "documents": 5000,
        "embeddings": 2000}
def write(dir_, name, columns):
    os.makedirs(dir_, exist_ok=True)
    pq.write_table(pa.table(columns), os.path.join(dir_, f"{name}.parquet"))


def documents(n, seed=CORPUS_SEED):
    """(columns, copy pairs): n documents of 10..100 words; one in twenty
    is another document's text followed by " dup"."""
    rng = np.random.default_rng([seed, 1])
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.array(VOCAB, dtype=object)
    ends = np.cumsum(lens)
    texts = [" ".join(vocab[words[e - k:e]]) for e, k in zip(ends, lens)]
    is_copy = rng.random(n) < 0.05
    target = rng.integers(0, n, n)
    pairs = []
    for i in np.nonzero(is_copy)[0]:
        if target[i] != i:
            texts[i] = texts[target[i]] + " dup"
            pairs.append((int(i), int(target[i])))
    lang = np.where(rng.random(n) < 0.41, "en",
                    np.array(["zh", "de", "fr", "es"])[rng.integers(0, 4, n)])
    ids = np.arange(n, dtype=np.int64)
    cols = {"doc_id": ids, "text": texts, "lang": lang.tolist(),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    return cols, pairs


def _pick(rng, vals, n):
    return np.array(vals, dtype=object)[rng.integers(0, len(vals), n)]


def _days(rng, start, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def relational(dir_, seed=CORPUS_SEED):
    """All ten tables of the sf0.1 shape under dir_."""
    rng = np.random.default_rng([seed, 2])
    i32, i64, f64 = np.int32, np.int64, np.float64

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    write(dir_, "region", {"r_regionkey": np.arange(5, dtype=i32),
                           "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                      "MIDDLE EAST"]})
    write(dir_, "nation", {"n_nationkey": np.arange(25, dtype=i32),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": (np.arange(25) % 5).astype(i32)})
    n = SF01["customer"]
    write(dir_, "customer", {
        "c_custkey": np.arange(n, dtype=i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(i32),
        "c_acctbal": money(-999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n)})
    n = SF01["supplier"]
    write(dir_, "supplier", {
        "s_suppkey": np.arange(n, dtype=i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(i32),
        "s_acctbal": money(-999.99, 9999.99, n)})
    n = SF01["part"]
    write(dir_, "part", {
        "p_partkey": np.arange(n, dtype=i64),
        "p_name": [f"{a} {b}" for a, b in zip(
            _pick(rng, ["blue", "cold", "hot", "large", "new", "old", "red",
                        "small"], n),
            _pick(rng, ["anvil", "bolt", "gear", "gizmo", "plate", "ring",
                        "rod", "widget"], n))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n)],
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n),
        "p_size": rng.integers(1, 51, n).astype(i32),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2)})
    n = SF01["orders"]
    write(dir_, "orders", {
        "o_orderkey": np.arange(n, dtype=i64),
        "o_custkey": rng.integers(0, SF01["customer"], n).astype(i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": money(1000.0, 500000.0, n),
        "o_orderdate": _days(rng, "1995-01-01", 2405, n),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n)})
    n = SF01["lineitem"]
    write(dir_, "lineitem", {
        "l_orderkey": rng.integers(0, SF01["orders"], n).astype(i64),
        "l_partkey": rng.integers(0, SF01["part"], n).astype(i64),
        "l_suppkey": rng.integers(0, SF01["supplier"], n).astype(i64),
        "l_linenumber": rng.integers(1, 8, n).astype(i32),
        "l_quantity": rng.integers(1, 51, n).astype(f64),
        "l_extendedprice": money(900.0, 105000.0, n),
        "l_discount": np.round(rng.uniform(0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", 2499, n)})
    n = SF01["events"]
    step = int(30 * 86400 * 1e6 // n)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (
        np.arange(n, dtype=i64) * step + rng.integers(0, step, n)).astype("timedelta64[us]")
    write(dir_, "events", {
        "event_id": np.arange(n, dtype=i64), "ts": ts,
        "user_id": rng.integers(0, 1500, n).astype(i64),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup",
                                  "view"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    docs, _ = documents(SF01["documents"], seed)
    write(dir_, "documents", docs)
    n, dim = SF01["embeddings"], 64
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    write(dir_, "embeddings", {
        "vec_id": np.arange(n, dtype=i64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(i32)})


def refinery(dir_, docs):
    """The refinery corpus: `docs` documents (the harness permutes them)."""
    cols, _ = documents(docs)
    write(dir_, "documents", cols)
    return {"docs": docs}


def ingest(dir_, seed, arrivals, mix):
    """Base store corpus (sf0.1 documents minus a seeded sample), its
    near-copy edges, and the arrival schedule: `arrivals` documents in
    seeded order, of kinds `mix` (share of new, duplicate, version).
    New documents are withheld sample documents (the harness permutes
    their text), duplicates exact copies of a base document, versions
    copies with a changed meta key."""
    cols, pairs = documents(SF01["documents"])
    rng = np.random.default_rng([seed, 3])
    kinds = []
    for k, share in mix:
        kinds += [k] * round(arrivals * share)
    kinds = [kinds[i] for i in rng.permutation(len(kinds))]
    n_new = kinds.count("new")
    order = rng.permutation(SF01["documents"])
    withheld, base = order[:n_new], np.sort(order[n_new:])
    texts, langs = cols["text"], cols["lang"]
    new_texts = iter([texts[i] for i in withheld])
    new_langs = iter([langs[i] for i in withheld])
    a_text, a_meta = [], []
    for k in kinds:
        if k == "new":
            a_text.append(next(new_texts)); a_meta.append(next(new_langs))
        else:
            d = int(base[rng.integers(0, len(base))])
            a_text.append(texts[d])
            a_meta.append(langs[d] if k == "duplicate" else "xx")
    write(dir_, "documents", {c: (np.asarray(v)[base] if isinstance(v, np.ndarray)
                                  else [v[i] for i in base]) for c, v in cols.items()})
    keep = set(base.tolist())
    edges = [(a, b) for a, b in pairs if a in keep and b in keep]
    write(dir_, "base_edges", {"a_id": np.array([a for a, _ in edges], dtype=np.int64),
                               "b_id": np.array([b for _, b in edges], dtype=np.int64)})
    write(dir_, "arrivals", {
        "uid": np.arange(1_000_000, 1_000_000 + len(kinds), dtype=np.int64),
        "text": a_text, "meta_key": a_meta, "kind": kinds})
    return {"base_docs": len(base), "base_edges": len(edges),
            "arrivals": len(kinds),
            "arrival_mix": ",".join(f"{k}={kinds.count(k)}" for k, _ in mix)}
