"""Seeded input generators for the benchmark.

Two kinds of input:

* ``star_schema(out_dir, sf, seed)`` writes the ten harness tables that
  the registered queries read (``region`` .. ``embeddings``), one
  parquet file each, in the column layout and value ranges of the
  repo's test tables: uniform keys and categories, Poisson(4) line
  items per order, a 30-word document vocabulary with 5% planted
  near-duplicates, unit-norm 64-d embeddings.
* ``turbofan(out_dir, seed, engines)`` writes a C-MAPSS-shaped
  run-to-failure table as CSV: per engine 128-255 cycles, 3 operating
  settings, 21 sensors that drift as the engine wears, one all-null
  column, the remaining-useful-life label ``RUL`` and the binary label
  ``healthy`` (RUL > 30). Engines are split into a train file and a
  held-out test file.

The same seed gives byte-identical files. ``documents`` and
``embeddings`` do not depend on the seed: the DuckDB oracle of
``dedup_pipeline`` runs for minutes, so its output is checked against a
stored digest of an oracle-confirmed output, which needs fixed inputs.
"""
import os

import numpy as np
import pandas as pd

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "screw"]
TYPES = ["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
N_SENSORS = 21
CORPUS_SEED = 42


def _dates(rng, n, start, days):
    base = np.datetime64(start, "us")
    off = rng.integers(0, days, n).astype("timedelta64[D]").astype(
        "timedelta64[us]")
    return base + off


def _write(df, out_dir, name):
    df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)


def star_schema(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_events = max(100, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    _write(pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": REGIONS}), out_dir, "region")
    nk = np.arange(25, dtype=np.int32)
    _write(pd.DataFrame({
        "n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": (nk % 5).astype(np.int32)}), out_dir, "nation")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    ck = np.arange(n_cust, dtype=np.int64)
    _write(pd.DataFrame({
        "c_custkey": ck, "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)}), out_dir, "customer")
    sk = np.arange(n_supp, dtype=np.int64)
    _write(pd.DataFrame({
        "s_suppkey": sk, "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)}), out_dir, "supplier")
    pk = np.arange(n_part, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    _write(pd.DataFrame({
        "p_partkey": pk, "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)}),
        out_dir, "part")
    ok = np.arange(n_ord, dtype=np.int64)
    _write(pd.DataFrame({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)}), out_dir, "orders")
    n_li = n_ord * 4
    _write(pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["N", "A", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _dates(rng, n_li, "1995-01-02", 2498)}),
        out_dir, "lineitem")

    secs = np.sort(rng.uniform(0, 30 * 86400, n_events))
    ts = np.datetime64("2024-01-01", "us") + (secs * 1e6).astype(
        "timedelta64[us]")
    _write(pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64), "ts": ts,
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]}),
        out_dir, "events")

    rng = np.random.default_rng(CORPUS_SEED)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
             for _ in range(n_docs)]
    # planted duplicates: 5% near-duplicates (an earlier doc plus a
    # marker word) and a few exact copies
    for i in rng.choice(np.arange(1, n_docs), n_docs // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in rng.choice(np.arange(1, n_docs), max(2, n_docs // 600),
                        replace=False):
        texts[i] = texts[rng.integers(0, i)]
    _write(pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64), "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        out_dir, "documents")

    v = rng.standard_normal((n_vecs, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64), "embedding": list(v),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32)}),
        out_dir, "embeddings")


def turbofan(out_dir, seed, engines, test_frac=0.2):
    """Writes ``turbofan_train.csv`` and ``turbofan_test.csv``; returns
    (train_rows, test_rows)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed + 7919)
    base = rng.uniform(10.0, 600.0, N_SENSORS)
    drift = rng.uniform(-0.06, 0.06, N_SENSORS) * base
    noise = rng.uniform(0.002, 0.01, N_SENSORS) * base
    frames = []
    for e in range(1, engines + 1):
        life = int(rng.integers(128, 256))
        cyc = np.arange(1, life + 1)
        wear = (cyc / life) ** 2 * rng.uniform(0.8, 1.2)
        cols = {"engine_no": np.full(life, e), "cycle": cyc}
        for k in range(3):
            cols[f"setting_{k + 1}"] = np.round(
                rng.normal(0.0, 0.002 * (k + 1), life), 4)
        for s in range(N_SENSORS):
            cols[f"sensor_{s + 1}"] = np.round(
                base[s] + drift[s] * wear + rng.normal(0, noise[s], life), 4)
        cols["sensor_null"] = np.full(life, np.nan)
        cols["RUL"] = life - cyc
        cols["healthy"] = (life - cyc > 30).astype(np.int32)
        frames.append(pd.DataFrame(cols))
    n_test = max(1, int(round(engines * test_frac)))
    train = pd.concat(frames[:-n_test], ignore_index=True)
    test = pd.concat(frames[-n_test:], ignore_index=True)
    train.to_csv(os.path.join(out_dir, "turbofan_train.csv"), index=False)
    test.to_csv(os.path.join(out_dir, "turbofan_test.csv"), index=False)
    return len(train), len(test)
