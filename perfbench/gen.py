"""Seeded input generators for the benchmark.

`fixture(dir, seed, sf)` writes the ten tables the declared queries read
(`graft.Tables.names`), with the schemas and value domains of the
project's test fixture (FIXTURES.md): a TPC-H-like star schema, an
`events` stream, `documents` with a 5% share of " dup"-suffixed copies,
and unit-norm 64-d `embeddings`. Row counts scale with `sf` the way the
fixture does (sf 0.1: 600,000 lineitem rows). Each table is one parquet
file with one row group, like the fixture, so `graft.Tables` takes the
same load path.

`dedup_corpus(dir, seed, n_docs)` writes the document corpus of the
`pipeline` workload and its planted truth.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark line small fast group customer part column order scan a slow agg "
         "key window table merge vector join batch sort value hash filter big "
         "data query row stream the").split()
ADJ = "blue cold hot red small large green dark".split()
NOUN = "ring plate gear rod bolt anvil widget nut".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
DAY_US = 86_400_000_000
# words of the header a group of templated documents shares
TEMPLATE_HEADER = 30


def _write(table, path):
    # one row group per file, as in the project fixture
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def _days(rng, n, first, last):
    lo = np.datetime64(first, "D")
    span = int((np.datetime64(last, "D") - lo).astype(int))
    d = lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng, n_words):
    return " ".join(rng.choice(WORDS, n_words))


def fixture(out, seed, sf=0.1):
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n = {t: int(round(c * sf / 0.001)) for t, c in {
        "customer": 150, "supplier": 10, "part": 200, "orders": 1500,
        "lineitem": 6000, "events": 1000, "documents": 50,
        "embeddings": 20}.items()}
    i32, i64 = pa.int32(), pa.int64()
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    c = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": _money(rng, c, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, c)})
    s = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
        "s_acctbal": _money(rng, s, -999.99, 9999.99)})
    p = n["part"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), i64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, p), rng.choice(NOUN, p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": rng.choice(PTYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 1)})
    o = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), i64),
        "o_custkey": pa.array(rng.integers(0, c, o), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": _money(rng, o, 1000, 500000),
        "o_orderdate": _days(rng, o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, o)})
    li = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), i64),
        "l_partkey": pa.array(rng.integers(0, p, li), i64),
        "l_suppkey": pa.array(rng.integers(0, s, li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, li, 900, 105000),
        "l_discount": rng.integers(0, 11, li) / 100,
        "l_tax": rng.integers(0, 9, li) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _days(rng, li, "1995-01-02", "2001-11-04")})
    e = n["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * DAY_US, e)) + start
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(e), i64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(e // 66, 15), e), i64),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": np.round(rng.exponential(50, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = [_text(rng, k) for k in rng.integers(8, 75, d)]
    # 5% near-dup copies ("<other doc> dup") and a few exact copies,
    # the duplicate structure the pipeline queries expect to find
    for i in rng.choice(d, d // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, d))] + " dup"
    for i in rng.choice(d, max(d // 600, 1), replace=False):
        texts[i] = texts[int(rng.integers(0, d))]
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), i64),
        "text": texts,
        "lang": rng.choice(LANGS, d, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    m = n["embeddings"]
    v = rng.standard_normal((m, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), i32)})
    for name, t in tables.items():
        _write(t, os.path.join(out, f"{name}.parquet"))
    return sum(t.num_rows for t in tables.values())


def dedup_corpus(out, seed, n_docs):
    """`docs.parquet` (doc_id, text, n_chars) and `truth.parquet`
    (doc_id, cluster, kind). Four parts, shuffled together:

    - near-dup clusters of 2-3 twins, each twin a copy of one base text
      of 120-160 words with one of its last ten words replaced, so two
      twins share 3-shingle Jaccard 0.9 or more: the program's 8x2-band
      minhash LSH misses such a pair with probability under 2e-6;
    - a boilerplate share: 20 texts, each repeated byte for byte 10 times;
    - templated documents: groups of 6 that share a 30-word header before
      their own body, 3-shingle Jaccard 0.26 or less, so they become LSH
      candidates now and then but never pass a 0.35 Jaccard confirmation;
    - word salad over a 4096-word vocabulary, where two documents share
      a 3-word shingle only by chance.

    `cluster` is the planted group (-1 for salad, which is unique); the
    benchmark checks every dedup stage against it.
    """
    rng = np.random.default_rng([seed, 2])
    vocab = np.array([f"w{i}" for i in range(4096)])

    def salad(lo=40, hi=90):
        return list(rng.choice(vocab, int(rng.integers(lo, hi))))

    texts, cluster, kind = [], [], []
    n_boiler = 200
    n_twin_docs = n_docs // 5
    n_templated = n_docs // 10
    cid = 0
    for _ in range(20):
        t = " ".join(salad())
        for _ in range(n_boiler // 20):
            texts.append(t), cluster.append(cid), kind.append("boilerplate")
        cid += 1
    while len(texts) < n_boiler + n_twin_docs:
        base = salad(120, 160)
        for _ in range(int(rng.integers(2, 4))):
            w = list(base)
            # among the last ten words, so twins share a prefix of 110+
            # words and substring dedup has a span to find in each
            j = len(w) - 1 - int(rng.integers(0, 10))
            w[j] = f"x{int(rng.integers(0, 1 << 30))}"
            texts.append(" ".join(w)), cluster.append(cid), kind.append("twin")
        cid += 1
    end = len(texts) + n_templated
    while len(texts) < end:
        header = salad(TEMPLATE_HEADER, TEMPLATE_HEADER + 1)
        for _ in range(min(6, end - len(texts))):
            texts.append(" ".join(header + salad())), cluster.append(cid)
            kind.append("templated")
        cid += 1
    while len(texts) < n_docs:
        texts.append(" ".join(salad())), cluster.append(-1), kind.append("salad")
    order = rng.permutation(len(texts))
    ids = np.arange(len(texts), dtype=np.int64)
    texts = [texts[i] for i in order]
    os.makedirs(out, exist_ok=True)
    _write(pa.table({"doc_id": ids, "text": texts,
                     "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
           os.path.join(out, "docs.parquet"))
    _write(pa.table({"doc_id": ids,
                     "cluster": pa.array([cluster[i] for i in order], pa.int64()),
                     "kind": [kind[i] for i in order]}),
           os.path.join(out, "truth.parquet"))
    return len(texts)
