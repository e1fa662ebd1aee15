"""Deterministic input lake for the benchmark.

The benchmark owns its input so that no change under `src/` can shift
it. `write_lake` writes the repository's sf0.1 test lake: the ten tables
`graft.catalog.Lake` reads (a TPC-H-like star schema, an events stream, a
text corpus with planted near-duplicates, unit-norm embeddings), one
parquet file per table. The draws below are the test data's own
generator, in its order, from its seed: a write with numpy 1.26,
pandas 2.2 and pyarrow 16.1 gives the same parquet files byte for byte.
Each table gets a content digest (sha256 of its parquet file) so that
the benchmark can refuse an input that differs from the recorded one.
"""
import hashlib
import os

import numpy as np
import pandas as pd

SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PART_ADJ = "red blue small large hot cold old new".split()
PART_NOUN = "anvil widget gizmo bolt gear plate rod ring".split()
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
STATUSES = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURNFLAGS = ["R", "A", "N"]
LINESTATUSES = ["O", "F"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ("the a spark query table join group filter window data order "
         "customer part line fast slow big small hash sort merge scan agg "
         "stream batch vector key value row column").split()
# English is six of fourteen equally likely slots.
LANGS = ["en"] * 6 + ["de", "de", "fr", "fr", "es", "es", "zh", "zh"]
DIM = 64


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _days(rng, start, n_days, n):
    days = np.datetime64(start, "D") + rng.integers(0, n_days, n).astype("timedelta64[D]")
    return days.astype("datetime64[s]")


def base_tables(seed=42):
    """The ten sf0.1 tables as pandas DataFrames, in the generator's order."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord, n_li = 15000, 1000, 20000, 150000, 600000
    n_ev, n_doc, n_emb = 100000, 5000, 2000
    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nk = np.arange(25, dtype=np.int32)
    t["nation"] = pd.DataFrame({
        "n_nationkey": nk,
        "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": nk % 5})
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pd.DataFrame({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pd.DataFrame({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    pk = np.arange(n_part, dtype=np.int64)
    adj = _pick(rng, PART_ADJ, n_part)
    noun = _pick(rng, PART_NOUN, n_part)
    t["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, STATUSES, n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": _pick(rng, RETURNFLAGS, n_li),
        "l_linestatus": _pick(rng, LINESTATUSES, n_li),
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_li)})
    # Event times are drawn in seconds, held as nanoseconds and stored as
    # microseconds (truncated).
    offset_ns = (np.sort(rng.uniform(0, 30 * 86400, n_ev)) * 1e9).astype(np.int64)
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "ns") + offset_ns.astype("timedelta64[ns]"),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(_pick(rng, VOCAB, rng.integers(10, 100))) for _ in range(n_doc)]
    # 5% planted near-duplicates: another document's text plus " dup"
    # (a source can itself be a planted copy; two copies of one source
    # are an exact duplicate pair).
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    doc_id = np.arange(n_doc, dtype=np.int64)
    t["documents"] = pd.DataFrame({
        "doc_id": doc_id,
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc),
        "source": [f"src{i % 20}" for i in doc_id],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    # Near-uniform directions: normalized Gaussians, labels independent.
    vecs = rng.normal(size=(n_emb, DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    return t


def write_lake(out):
    """Write the lake; returns {table: {"rows": n, "digest": hex}}."""
    os.makedirs(out, exist_ok=True)
    summary = {}
    for name, df in base_tables().items():
        path = os.path.join(out, f"{name}.parquet")
        # Timestamps are stored as microseconds, the unit Spark reads
        # natively; event times lose their nanosecond digits.
        df.to_parquet(path, index=False, coerce_timestamps="us",
                      allow_truncated_timestamps=True)
        with open(path, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()
        summary[name] = {"rows": len(df), "digest": digest}
    return summary


if __name__ == "__main__":
    # python3 perfbench/gen.py LAKE_DIR: check that LAKE_DIR holds the
    # recorded input lake, file for file.
    import json
    import sys
    recorded = json.load(open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                           "inputs.json")))
    same = True
    for name, rec in recorded.items():
        with open(os.path.join(sys.argv[1], f"{name}.parquet"), "rb") as f:
            ok = hashlib.sha256(f.read()).hexdigest() == rec["digest"]
        print(f"{name:12} {'identical' if ok else 'DIFFERS'}")
        same = same and ok
    sys.exit(0 if same else 1)
