"""Seeded input generator for the benchmark.

Everything the program reads in a run is made here from ``--seed``: the
sf0.1-shaped TPC-H-ish tables, the documents and embeddings, the
near-duplicate curation corpus, the CDC change batches and the op
schedule. The same seed gives byte-identical inputs.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts (the shapes of the repo's testdata tables)
SIZES = {"customer": 15000, "supplier": 1000, "part": 20000,
         "orders": 150000, "lineitem": 600000}
N_DOCS = 5000
N_VECS = 2000
DIMS = 64
N_LABELS = 10
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# Analyst data-cells filters: (row predicate, PII columns hidden). The
# JVM side registers the same filters with GovernanceCatalog; the DuckDB
# pins apply them as views.
GOVERNED = {
    "customer": ("c_nationkey < 15", ["c_name", "c_acctbal"]),
    "supplier": ("s_nationkey < 15", ["s_name", "s_acctbal"]),
    "orders": ("o_orderstatus <> 'P'", []),
    "lineitem": ("true", []),
    "part": ("true", []),
    "nation": ("true", []),
    "region": ("true", []),
}

# the testdata corpus's vocabulary size (~35 words) plus a few
# stopwords per language
BASE_WORDS = (
    "data table query scan join sort hash group filter window key row "
    "column batch stream merge value order line part spark vector agg "
    "fast slow big small index commit lake schema audit customer a").split()
LANG_WORDS = {
    "en": "the and of is".split(),
    "de": "der die und ist".split(),
    "fr": "le les et est".split(),
    "es": "el los y es".split(),
    "zh": "shi bu zai ren".split(),
}


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _days(rng, n, start="1992-01-01", end="1998-12-31"):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d.astype("datetime64[D]").astype("datetime64[us]"),
                    type=pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch(rng, out):
    pa_i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32), pa.int32())
    pa_i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64), pa.int64())
    _write(pa.table({"r_regionkey": pa_i32(range(5)),
                     "r_name": REGIONS}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa_i32(range(25)),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa_i32([i % 5 for i in range(25)])}),
           f"{out}/nation.parquet")
    n = SIZES["customer"]
    _write(pa.table({
        "c_custkey": pa_i64(range(n)),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa_i32(rng.integers(0, 25, n)),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n)}), f"{out}/customer.parquet")
    n = SIZES["supplier"]
    _write(pa.table({
        "s_suppkey": pa_i64(range(n)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa_i32(rng.integers(0, 25, n)),
        "s_acctbal": _money(rng, n, -999.99, 9999.99)}),
        f"{out}/supplier.parquet")
    n = SIZES["part"]
    adj = np.array(["large", "hot", "cold", "shiny", "dull", "small"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve"])
    _write(pa.table({
        "p_partkey": pa_i64(range(n)),
        "p_name": np.char.add(np.char.add(rng.choice(adj, n), " "),
                              rng.choice(noun, n)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": rng.choice(P_TYPES, n),
        "p_size": pa_i32(rng.integers(1, 51, n)),
        "p_retailprice": _money(rng, n, 900.0, 2100.0)}),
        f"{out}/part.parquet")
    n = SIZES["orders"]
    _write(pa.table({
        "o_orderkey": pa_i64(range(n)),
        "o_custkey": pa_i64(rng.integers(0, SIZES["customer"], n)),
        "o_orderstatus": rng.choice(["O", "F", "P"], n, p=[0.49, 0.49, 0.02]),
        "o_totalprice": _money(rng, n, 850.0, 550000.0),
        "o_orderdate": _days(rng, n),
        "o_orderpriority": rng.choice(PRIORITIES, n)}),
        f"{out}/orders.parquet")
    n = SIZES["lineitem"]
    _write(pa.table({
        "l_orderkey": pa_i64(rng.integers(0, SIZES["orders"], n)),
        "l_partkey": pa_i64(rng.integers(0, SIZES["part"], n)),
        "l_suppkey": pa_i64(rng.integers(0, SIZES["supplier"], n)),
        "l_linenumber": pa_i32(rng.integers(1, 8, n)),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": _days(rng, n)}), f"{out}/lineitem.parquet")


def _doc_text(rng, lang, n_words, stopwords):
    # uniform over the base vocabulary, as in the testdata corpus; the
    # curation corpus mixes in a language's own stopwords, so learned
    # language-ID has a signal
    base = rng.integers(0, len(BASE_WORDS), n_words)
    words = [BASE_WORDS[i] for i in base]
    own = LANG_WORDS[lang]
    for i in np.flatnonzero(rng.random(n_words) < stopwords):
        words[i] = own[rng.integers(0, len(own))]
    return " ".join(words)


def documents(rng, n=N_DOCS, stopwords=0.0):
    """Base corpus: planted exact duplicates (3%), near duplicates (3%)
    and mislabeled languages (4%), like a raw crawl."""
    langs = rng.choice(LANGS, n, p=LANG_P)
    texts = [_doc_text(rng, lang, int(rng.integers(12, 90)), stopwords)
             for lang in langs]
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.03:
            texts[i] = texts[int(rng.integers(0, i))]
        elif i > 10 and r < 0.06:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "edited"
            texts[i] = " ".join(words)
    shown = [LANGS[int(rng.integers(0, 5))] if rng.random() < 0.04 else l
             for l in langs]
    return {"doc_id": np.arange(n, dtype=np.int64), "text": texts,
            "lang": shown,
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def embeddings(rng, n=N_VECS):
    centers = rng.normal(0, 1, (N_LABELS, DIMS))
    labels = rng.integers(0, N_LABELS, n)
    vecs = centers[labels] * 0.15 + rng.normal(0, 0.1, (n, DIMS))
    # planted near-identical pairs for semantic dedup
    for i in np.flatnonzero(rng.random(n) < 0.05):
        j = int(rng.integers(0, n))
        vecs[i] = vecs[j] + rng.normal(0, 1e-3, DIMS)
        labels[i] = labels[j]
    return {"vec_id": np.arange(n, dtype=np.int64),
            "embedding": vecs.astype(np.float32), "label": labels}


def _docs_table(d):
    return pa.table({"doc_id": pa.array(d["doc_id"], pa.int64()),
                     "text": d["text"], "lang": d["lang"],
                     "source": d["source"],
                     "n_chars": pa.array(d["n_chars"], pa.int64())})


def _emb_table(e):
    flat = pa.array(e["embedding"].reshape(-1), pa.float32())
    offs = pa.array(np.arange(0, len(e["vec_id"]) * DIMS + 1, DIMS,
                              dtype=np.int32))
    return pa.table({"vec_id": pa.array(e["vec_id"], pa.int64()),
                     "embedding": pa.ListArray.from_arrays(offs, flat),
                     "label": pa.array(e["label"], pa.int32())})


def corpus_expansion(docs, emb, factor):
    """ScaleProbe's near-duplicate expansion: `factor` copies of the base
    documents, doc ids shifted per copy and a per-copy tag token appended;
    embeddings likewise copied with a tiny per-copy perturbation."""
    off = int(docs["doc_id"].max()) + 1
    out = {k: [] for k in docs}
    for i in range(factor):
        out["doc_id"].append(docs["doc_id"] + i * off)
        text = [t + f" probecopy{i}" for t in docs["text"]]
        out["text"].append(text)
        out["lang"].append(docs["lang"])
        out["source"].append(docs["source"])
        out["n_chars"].append(np.array([len(t) for t in text],
                                       dtype=np.int64))
    merged = {k: (np.concatenate(v) if isinstance(v[0], np.ndarray)
                  else sum((list(x) for x in v), [])) for k, v in out.items()}
    voff = int(emb["vec_id"].max()) + 1
    noise = np.random.default_rng(7)
    e = {"vec_id": np.concatenate([emb["vec_id"] + i * voff
                                   for i in range(factor)]),
         "embedding": np.concatenate(
             [emb["embedding"] + noise.normal(0, 1e-4, emb["embedding"].shape)
              .astype(np.float32) * (i > 0) for i in range(factor)]),
         "label": np.concatenate([emb["label"]] * factor)}
    return merged, e


# ---------------------------------------------------------------- SQL ops

def sql_ops(rng, principal):
    """Athena-style SQL over the governed lake tables, seeded parameters.
    Date windows have a fixed width, so a seed changes which rows an op
    reads, not how many. Every ORDER BY ... LIMIT carries a unique
    tie-break key."""
    d0 = np.datetime64("1992-01-01") + int(rng.integers(0, 2000))
    d1 = d0 + 365
    seg = SEGMENTS[int(rng.integers(0, 5))]
    ops = [
        ("seg_revenue",
         "SELECT c_mktsegment, c_nationkey, count(*) AS n_orders, "
         "sum(o_totalprice) AS revenue FROM lake.customer JOIN lake.orders "
         f"ON c_custkey = o_custkey WHERE o_orderdate >= DATE '{d0}' AND "
         f"o_orderdate < DATE '{d1}' GROUP BY c_mktsegment, c_nationkey"),
        ("top_orders",
         "SELECT o_orderkey, o_custkey, o_totalprice FROM lake.orders WHERE "
         f"o_orderpriority = '{PRIORITIES[int(rng.integers(0, 5))]}' AND "
         f"o_orderdate >= DATE '{d0}' AND o_orderdate < DATE '{d1}' "
         "ORDER BY o_totalprice DESC, o_orderkey "
         f"LIMIT {int(rng.integers(5, 30))}"),
        ("nation_rank",
         "SELECT c_nationkey, c_custkey, total, rk FROM (SELECT c_nationkey, "
         "c_custkey, sum(o_totalprice) AS total, row_number() OVER "
         "(PARTITION BY c_nationkey ORDER BY sum(o_totalprice) DESC, "
         "c_custkey) AS rk FROM lake.customer JOIN lake.orders ON c_custkey "
         f"= o_custkey WHERE c_mktsegment = '{seg}' GROUP BY c_nationkey, "
         f"c_custkey) t WHERE rk <= {int(rng.integers(2, 5))}"),
        ("pricing_summary",
         "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) "
         "AS qty, sum(l_extendedprice * (1 - l_discount)) AS disc_price "
         f"FROM lake.lineitem WHERE l_shipdate >= DATE '{d0}' AND "
         f"l_shipdate < DATE '{d1}' "
         "GROUP BY l_returnflag, l_linestatus"),
        ("brand_qty",
         "SELECT p_brand, count(*) AS n, sum(l_quantity) AS qty FROM "
         "lake.lineitem JOIN lake.part ON l_partkey = p_partkey WHERE "
         f"p_size = {int(rng.integers(1, 51))} AND p_type = "
         f"'{P_TYPES[int(rng.integers(0, 6))]}' GROUP BY p_brand"),
        ("supplier_nations",
         "SELECT r_name, n_name, count(*) AS n_supp FROM lake.supplier JOIN "
         "lake.nation ON s_nationkey = n_nationkey JOIN lake.region ON "
         f"n_regionkey = r_regionkey WHERE r_regionkey <> "
         f"{int(rng.integers(0, 5))} GROUP BY r_name, n_name"),
        ("big_spenders",
         "SELECT c_nationkey, count(*) AS n FROM lake.customer c WHERE "
         "EXISTS (SELECT 1 FROM lake.orders o WHERE o.o_custkey = "
         f"c.c_custkey AND o.o_totalprice > {int(rng.integers(450000, 540000))}"
         ") GROUP BY c_nationkey"),
        ("running_spend",
         "SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS d, "
         "sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY "
         "o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND "
         "CURRENT ROW) AS running FROM lake.orders WHERE o_custkey BETWEEN "
         f"{(a := int(rng.integers(0, SIZES['customer'] - 30)))} AND {a + 30}"),
    ]
    if principal == "DataAdmin":
        ops.append(
            ("acct_top",
             "SELECT c_custkey, c_name, c_acctbal FROM lake.customer WHERE "
             f"c_nationkey = {int(rng.integers(0, 25))} ORDER BY c_acctbal "
             "DESC, c_custkey LIMIT 10"))
    return [{"kind": "sql", "name": n, "sql": s} for n, s in ops]


TIER_A = {"Analyst": ["q_rls_filter", "q_analyst_counts",
                      "q_analyst_masked_view", "q_sql_governed",
                      "q_sql_view_analyst"],
          "DataAdmin": ["q_count_by_region", "q_masked_view", "q_admin_pii",
                        "q_scan_project_all", "q_limit"]}


def schedule(rng, principal, docs):
    """One client's op cycle. Each kind (SQL, Tier A, point read) is spread
    evenly through the cycle in a fixed pattern, so any stretch of it has
    the same mix whatever the seed; the seed picks parameters and the
    order within a kind."""
    sql = sql_ops(rng, principal)
    tier = [{"kind": "tier_a", "name": q} for q in TIER_A[principal]]
    vocab = sorted({w for t in docs["text"][:200] for w in t.split()})
    point = []
    for _ in range(2):
        point.append({"kind": "bm25", "name": "bm25", "k": 10,
                      "terms": [str(t) for t in
                                rng.choice(vocab, 3, replace=False)]})
        point.append({"kind": "lookup", "name": "lookup",
                      "key": int(rng.integers(0, SIZES["customer"]))})
        point.append({"kind": "ann", "name": "ann", "k": 10, "nprobe": 3,
                      "query": int(rng.integers(0, N_VECS))})
    slots = []
    for rank, queue in enumerate((sql, tier, point)):
        order = range(len(queue)) if queue is point \
            else rng.permutation(len(queue))
        for pos, j in enumerate(order):
            slots.append(((pos + 0.5) / len(queue), rank, queue[j]))
    out = []
    for i, (_, _, op) in enumerate(sorted(slots, key=lambda s: s[:2])):
        op = dict(op)
        op["id"] = f"{principal}:{op['name']}:{i}"
        out.append(op)
    return out


# ---------------------------------------------------------------- CDC

CDC_KEYS = 10000


def cdc_batches(rng, out, n_batches, rows):
    """Base load (batch 0) plus change batches: Zipf-hot upserts (some new
    keys), deletes, and stale out-of-order versions of live keys. Each
    batch is written as parquet for the program and as JSON lines for the
    benchmark's own model of the table."""
    os.makedirs(out, exist_ok=True)
    live = {}

    def emit(b, recs):
        tbl = pa.table({
            "id": pa.array([r[0] for r in recs], pa.int64()),
            "ver": pa.array([r[1] for r in recs], pa.int64()),
            "deleted": pa.array([r[2] for r in recs], pa.bool_()),
            "payload": [r[3] for r in recs],
            "amount": pa.array([r[4] for r in recs], pa.float64())})
        _write(tbl, f"{out}/batch_{b:05d}.parquet")
        with open(f"{out}/batch_{b:05d}.jsonl", "w") as f:
            for r in recs:
                f.write(json.dumps(r) + "\n")
        for r in sorted(recs, key=lambda r: r[1]):
            cur = live.get(r[0])
            if cur is None or cur < r[1]:
                live[r[0]] = r[1]
            if r[2] and live.get(r[0]) == r[1]:
                live.pop(r[0])

    amounts = np.round(rng.uniform(0, 1000, CDC_KEYS), 2)
    emit(0, [(k, 1, False, f"p{k}-0", float(amounts[k]))
             for k in range(CDC_KEYS)])
    space = CDC_KEYS
    for b in range(1, n_batches + 1):
        recs, used_stale = [], set()
        for i in range(rows):
            ver = b * 100000 + i
            r = rng.random()
            if r < 0.05:
                space += 1
                k = space - 1
            else:
                k = int((rng.zipf(1.2) - 1) % space)
            if r < 0.70:
                recs.append((k, ver, False, f"p{k}-{b}",
                             float(np.round(rng.uniform(0, 1000), 2))))
            elif r < 0.85:
                recs.append((k, ver, True, None, None))
            else:
                k = int(rng.integers(0, space))
                if k in live and k not in used_stale and live[k] > 1:
                    used_stale.add(k)
                    recs.append((k, live[k] - 1, False, f"stale{k}", -1.0))
        # stale keys must not also get a fresh version in the same batch
        fresh = {r[0] for r in recs if not r[3] or not r[3].startswith("stale")}
        recs = [r for r in recs if not (r[3] and r[3].startswith("stale")
                                        and r[0] in fresh)]
        emit(b, recs)


# ---------------------------------------------------------------- main

# curation: a 5000-document base corpus and 2000 vectors, expanded 2x
CURATION_BASE = (5000, 2000, 2)


def generate(workload, seed, out, cdc_batches_n=80, cdc_rows=300):
    rng = np.random.default_rng(seed)
    data = f"{out}/data"
    os.makedirs(data, exist_ok=True)
    meta = {"workload": workload, "seed": seed}
    if workload == "governed_sql":
        docs = documents(rng)
        emb = embeddings(rng)
        tpch(rng, data)
        _write(_docs_table(docs), f"{data}/documents.parquet")
        _write(_emb_table(emb), f"{data}/embeddings.parquet")
        meta["clients"] = [
            {"principal": p, "ops": schedule(rng, p, docs)}
            for p in ("Analyst", "DataAdmin")]
        meta["governed"] = GOVERNED
    elif workload == "curation":
        n_docs, n_vecs, factor = CURATION_BASE
        cdocs, cemb = corpus_expansion(documents(rng, n_docs, 0.25),
                                       embeddings(rng, n_vecs), factor)
        _write(_docs_table(cdocs), f"{data}/documents.parquet")
        _write(_emb_table(cemb), f"{data}/embeddings.parquet")
        meta["n_docs"] = len(cdocs["doc_id"])
        meta["n_vecs"] = len(cemb["vec_id"])
    elif workload == "cdc_ingest":
        cdc_batches(rng, f"{out}/batches", cdc_batches_n, cdc_rows)
        meta["n_batches"] = cdc_batches_n
    else:
        raise SystemExit(f"unknown workload {workload}")
    with open(f"{out}/inputs.json", "w") as f:
        json.dump(meta, f)
    return meta
