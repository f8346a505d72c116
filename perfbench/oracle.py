"""Output checks for the benchmark.

Each op's first result (dumped by the JVM) is compared with a pin: row
count plus an order-insensitive hash of canonicalized rows. SQL pins
come from DuckDB over the same parquet files, with the Analyst's
data-cells filters applied as views; point reads are pinned by DuckDB
mirrors of the BM25 and IVF formulas and by the customer table itself.
Analyst results are also checked for the governance invariants.
Every step of the curation chain is pinned by a result computed here
from the inputs (see check_curation); CDC reads are checked against the
model inside the JVM.
"""
import datetime
import decimal
import hashlib
import math
import os

import duckdb
import numpy as np

PII = {"c_name", "c_acctbal", "s_name", "s_acctbal", "customer_email",
       "ssn"}
# Analyst row predicates, as checks on any result column of that name
ROW_RULES = {
    "c_nationkey": lambda v: v < 15,
    "s_nationkey": lambda v: v < 15,
    "o_orderstatus": lambda v: v != "P",
    "sales_region": lambda v: v == "APAC",
}
MASKED = {"customer_email": lambda v: v.startswith("***@"),
          "ssn": lambda v: not any(ch.isdigit() for ch in v)}


def _split(v, floats):
    """Canonical text of a value; non-integral numbers go to `floats` and
    are compared with a tolerance, since engines may sum in any order."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f) or math.isinf(f):
            return str(f)
        if abs(f - round(f)) <= 1e-9 * max(1.0, abs(f)):
            return str(int(round(f)))
        floats.append(f)
        return "~"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_split(x, floats) for x in v) + "]"
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def _canon_rows(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    out = []
    for r in rows:
        floats = []
        key = "\x1f".join(_split(r[i], floats) for i in order)
        out.append((key, floats))
    return sorted(out)


def fingerprint(columns, rows):
    """Row count plus an order-insensitive hash of the rows' exact parts."""
    h = 0
    for key, _ in _canon_rows(columns, rows):
        h = (h + int(hashlib.md5(key.encode()).hexdigest()[:16], 16)) % 2**64
    return len(rows), h


def same_rows(cols_a, rows_a, cols_b, rows_b):
    """Equal fingerprints, and every non-integral number equal to within
    a relative 1e-9."""
    if fingerprint(cols_a, rows_a) != fingerprint(cols_b, rows_b):
        return False
    for (_, fa), (_, fb) in zip(_canon_rows(cols_a, rows_a),
                                _canon_rows(cols_b, rows_b)):
        if len(fa) != len(fb) or not all(
                math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9)
                for x, y in zip(fa, fb)):
            return False
    return True


def _quant(v):
    return (f"list_transform({v}, x -> CAST(round(CAST(x AS DOUBLE) * "
            "1000000) AS BIGINT))")


def _cos(dot, na, nb):
    return (f"CASE WHEN {na} = 0 OR {nb} = 0 THEN NULL ELSE "
            f"CAST({dot} AS DOUBLE) / (sqrt(CAST({na} AS DOUBLE)) * "
            f"sqrt(CAST({nb} AS DOUBLE))) END")


def ivf_sql(q, k, nprobe):
    """DuckDB mirror of Ann.persistedCentroids + Ann.ivfTopK."""
    return (
        "WITH ce AS (SELECT label, u.i AS dim, CAST(CAST(SUM(CAST(round("
        "CAST(u.x AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) / "
        "(1000000.0 * COUNT(*)) AS REAL) AS cx FROM (SELECT label, "
        "unnest(list_transform(embedding, (x,i) -> {'x': x, 'i': i})) AS u "
        "FROM embeddings) GROUP BY label, u.i), "
        "cent AS (SELECT label, list(cx ORDER BY dim) AS centroid FROM ce "
        "GROUP BY label), "
        f"q AS (SELECT {_quant('embedding')} AS qv FROM embeddings "
        f"WHERE vec_id = {q}), "
        f"cq AS (SELECT label, list_sum(list_transform(list_zip("
        f"{_quant('centroid')}, qv), p -> p[1] * p[2])) AS dot, "
        f"list_sum(list_transform({_quant('centroid')}, x -> x*x)) AS na, "
        "list_sum(list_transform(qv, x -> x*x)) AS nb FROM cent, q), "
        f"probe AS (SELECT label FROM (SELECT label, {_cos('dot', 'na', 'nb')}"
        f" AS sim FROM cq) ORDER BY sim DESC, label LIMIT {nprobe}), "
        f"e AS (SELECT vec_id, {_quant('embedding')} AS ev FROM embeddings "
        f"WHERE vec_id <> {q} AND label IN (SELECT label FROM probe)), "
        "s AS (SELECT vec_id, list_sum(list_transform(list_zip(ev, qv), "
        "p -> p[1] * p[2])) AS dot, list_sum(list_transform(ev, x -> x*x)) "
        "AS na, list_sum(list_transform(qv, x -> x*x)) AS nb FROM e, q) "
        f"SELECT vec_id, {_cos('dot', 'na', 'nb')} AS sim FROM s "
        f"ORDER BY sim DESC, vec_id LIMIT {k}")


def bm25_sql(terms, k):
    """DuckDB mirror of Bm25.persistedIndex + Bm25.search (k1=1.2,
    b=0.75), same expression tree."""
    toks = ("list_filter(regexp_split_to_array(trim(text), '\\s+'), "
            "x -> x <> '')")
    quoted = ", ".join(f"'{t}'" for t in terms)
    piv = ", ".join(f"max(CASE WHEN term = '{t}' THEN s END) AS s{i}"
                    for i, t in enumerate(terms))
    total = "COALESCE(s0, 0.0)"
    for i in range(1, len(terms)):
        total = f"({total} + COALESCE(s{i}, 0.0))"
    return (
        f"WITH lens AS (SELECT doc_id, CAST(len({toks}) AS BIGINT) AS len "
        "FROM documents), "
        "stats AS (SELECT COUNT(*) AS n_docs, SUM(len) AS sum_len FROM lens), "
        f"tok AS (SELECT doc_id, unnest({toks}) AS term FROM documents), "
        "tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM tok "
        f"WHERE term IN ({quoted}) GROUP BY doc_id, term), "
        "dft AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf "
        "GROUP BY term), "
        "sc AS (SELECT t.doc_id, t.term, ((CAST(st.n_docs AS DOUBLE) - d.df "
        "+ 0.5) / (d.df + 0.5)) * (t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 "
        "* (CAST(l.len AS DOUBLE) / (CAST(st.sum_len AS DOUBLE) / "
        "CAST(st.n_docs AS DOUBLE))))) AS s FROM tf t JOIN dft d USING (term) "
        "JOIN lens l USING (doc_id) CROSS JOIN stats st), "
        f"piv AS (SELECT doc_id, {piv} FROM sc GROUP BY doc_id) "
        f"SELECT doc_id, {total} AS score FROM piv "
        f"ORDER BY score DESC, doc_id LIMIT {k}")


def _lake(data, governed, analyst):
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    con.sql("CREATE SCHEMA lake")
    for t, (pred, hidden) in governed.items():
        src = f"read_parquet('{data}/{t}.parquet')"
        if analyst:
            cols = [c for c in con.sql(f"SELECT * FROM {src} LIMIT 0").columns
                    if c not in hidden]
            con.sql(f"CREATE VIEW lake.{t} AS SELECT {', '.join(cols)} "
                    f"FROM {src} WHERE {pred}")
        else:
            con.sql(f"CREATE VIEW lake.{t} AS SELECT * FROM {src}")
    for t in ("customer", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data}/{t}.parquet')")
    return con


def governance_problems(dump):
    cols = dump["columns"]
    out = []
    for i, c in enumerate(cols):
        lc = c.lower()
        for r in dump["rows"]:
            v = r[i]
            if v is None:
                continue
            if lc in PII and not (lc in MASKED and MASKED[lc](v)):
                out.append(f"Analyst sees PII column {c}")
                break
            if lc in ROW_RULES and not ROW_RULES[lc](v):
                out.append(f"Analyst sees a row with {c}={v}")
                break
    return out


def check_governed_sql(run_dir, inputs, res):
    data = f"{run_dir}/data"
    cons = {"DataAdmin": _lake(data, inputs["governed"], False),
            "Analyst": _lake(data, inputs["governed"], True)}
    specs = {op["id"]: op for c in inputs["clients"] for op in c["ops"]}
    ran = {o["id"] for o in res["ops"]}
    problems = []
    for op_id, spec in specs.items():
        dump = res["dumps"].get(op_id)
        if dump is None:
            if op_id in ran:
                problems.append({"id": op_id, "msg": "no result recorded"})
            continue
        principal = dump["principal"]
        con = cons[principal]
        kind = spec["kind"]
        if kind == "sql":
            sql = spec["sql"]
        elif kind == "tier_a":
            sql = dump["oracle"]
        elif kind == "lookup":
            pred, hidden = inputs["governed"]["customer"]
            cols = "*" if principal == "DataAdmin" else ", ".join(
                c for c in con.sql("SELECT * FROM customer LIMIT 0").columns
                if c not in hidden)
            where = "true" if principal == "DataAdmin" else pred
            sql = (f"SELECT {cols}, CAST(1 AS BIGINT) AS ver FROM customer "
                   f"WHERE {where} AND c_custkey = {spec['key']}")
        elif kind == "bm25":
            sql = bm25_sql(spec["terms"], spec["k"])
        elif kind == "ann":
            sql = ivf_sql(spec["query"], spec["k"], spec["nprobe"])
        rel = con.sql(sql)
        want_cols, want_rows = rel.columns, rel.fetchall()
        if sorted(c.lower() for c in want_cols) != \
                sorted(c.lower() for c in dump["columns"]):
            problems.append({"id": op_id, "msg": f"columns {dump['columns']}"
                             f" vs oracle {want_cols}"})
            continue
        if not same_rows(dump["columns"], dump["rows"], want_cols,
                         want_rows):
            problems.append({"id": op_id, "msg": "rows/hash "
                             f"{fingerprint(dump['columns'], dump['rows'])} "
                             f"vs oracle {fingerprint(want_cols, want_rows)}"})
        if principal == "Analyst":
            problems += [{"id": op_id, "msg": m}
                         for m in governance_problems(dump)]
    return problems


QUALITY_SQL = ("length(text) >= 80 AND length(text) <= 600 AND NOT "
               "regexp_matches(text, '[0-9]{3,}')")

# DuckDB mirror of LangId.trainProfiles (m=100, on doc_id % 5 <> 0) and
# LangId.classify over the exact-dedup survivors, after the program's
# own q_lang_id_learned oracle: integer rank-profile scores, argmax by
# (score desc, lang)
LANGID_SQL = """
WITH train AS (SELECT lang, lower(text) AS s FROM documents
               WHERE doc_id % 5 <> 0),
test AS (SELECT doc_id, lang, lower(text) AS s FROM exact),
tg AS (SELECT lang, substring(s, CAST(i AS INT), 1) AS gram
       FROM train, unnest(range(1, len(s) + 1)) AS u(i)
       UNION ALL SELECT lang, substring(s, CAST(i AS INT), 2)
       FROM train, unnest(range(1, len(s))) AS u(i)),
cnts AS (SELECT lang, gram, COUNT(*) AS cnt FROM tg GROUP BY lang, gram),
prof AS (SELECT lang, gram, 100 - rn + 1 AS w FROM (
         SELECT lang, gram, row_number() OVER (PARTITION BY lang
                ORDER BY cnt DESC, gram) AS rn FROM cnts) WHERE rn <= 100),
tfg AS (SELECT doc_id, gram, COUNT(*) AS tf FROM (
        SELECT doc_id, substring(s, CAST(i AS INT), 1) AS gram
        FROM test, unnest(range(1, len(s) + 1)) AS u(i)
        UNION ALL SELECT doc_id, substring(s, CAST(i AS INT), 2)
        FROM test, unnest(range(1, len(s))) AS u(i)) GROUP BY doc_id, gram),
sc AS (SELECT doc_id, lang, SUM(tf * w) AS score FROM tfg
       JOIN prof USING (gram) GROUP BY doc_id, lang),
langs AS (SELECT DISTINCT lang FROM prof),
allsc AS (SELECT t.doc_id, l.lang, COALESCE(sc.score, 0) AS score
          FROM test t CROSS JOIN langs l
          LEFT JOIN sc ON sc.doc_id = t.doc_id AND sc.lang = l.lang),
pred AS (SELECT doc_id, lang AS pred_lang FROM (
         SELECT doc_id, lang, row_number() OVER (PARTITION BY doc_id
                ORDER BY score DESC, lang) AS rn FROM allsc) WHERE rn = 1)
SELECT t.doc_id FROM test t JOIN pred p USING (doc_id)
WHERE p.pred_lang = t.lang
"""

# word-trigram sets of the curated documents, as Curation.trigrams
# builds them, and every pair at Jaccard >= 0.7 (exhaustive, through the
# shared trigrams)
SIMJOIN_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM curated),
g AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]
      AS g FROM t, unnest(range(1, len(w) - 1)) AS u(i)),
sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
          FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
j AS (SELECT id_a, id_b, inter, sa.n + sb.n - inter AS uni FROM inter
      JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b)
SELECT id_a, id_b, inter, uni, CAST(inter AS DOUBLE) / uni AS jaccard
FROM j WHERE CAST(inter AS DOUBLE) / uni >= 0.7
"""

# the program's q_semantic_dedup oracle at tau 0.25: vectors left after
# dropping the later member of every same-label pair at quantized
# cosine >= 0.25
SEMANTIC_SQL = """
WITH q AS (SELECT vec_id, label, list_transform(embedding, x ->
           CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
           FROM embeddings),
e AS (SELECT vec_id, label, v, sqrt(CAST(list_sum(list_transform(v,
      x -> x * x)) AS DOUBLE)) AS n FROM q),
d AS (SELECT DISTINCT b.vec_id FROM e a JOIN e b
      ON a.label = b.label AND a.vec_id < b.vec_id
      AND CAST(list_sum(list_transform(list_zip(a.v, b.v),
          p -> p[1] * p[2])) AS DOUBLE) / (a.n * b.n) >= 0.25)
SELECT vec_id, label FROM embeddings WHERE vec_id NOT IN (SELECT vec_id FROM d)
"""

# Bm25.postings and Bm25.corpusStats over the curated documents
BM25_TOKENS = ("list_filter(regexp_split_to_array(trim(text), '\\s+'), "
               "x -> x <> '')")
BM25_POSTINGS_SQL = f"""
WITH t AS (SELECT doc_id, {BM25_TOKENS} AS toks FROM curated)
SELECT term, doc_id, COUNT(*) AS tf, CAST(len(toks) AS BIGINT) AS len
FROM (SELECT doc_id, toks, unnest(toks) AS term FROM t)
GROUP BY term, doc_id, len(toks)
"""
BM25_STATS_SQL = f"""
SELECT COUNT(*) AS n_docs, SUM(len({BM25_TOKENS})) AS sum_len FROM curated
"""

MASK64 = (1 << 64) - 1
MINHASH_K, MINHASH_BANDS, BUCKET_CAP = 32, 8, 1000


def _minhash_perms(k):
    """MinHashSig.permsFor: affine constants from a splitmix64 stream
    seeded with 42."""
    out, s = [], 42
    for _ in range(2 * k):
        s = (s + 0x9E3779B97F4A7C15) & MASK64
        z = ((s ^ (s >> 30)) * 0xBF58476D1CE4E5B9) & MASK64
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & MASK64
        out.append(z ^ (z >> 31))
    a = np.array([(x & 0x3FFFFFFF) | 1 for x in out[0::2]], np.uint64)
    b = np.array([x & 0x3FFFFFFF for x in out[1::2]], np.uint64)
    return a, b


def _fnv_window(tokens):
    """MinHashSig.hashWindow: FNV-1a over the space-joined tokens (each
    followed by a space), folded to 32 bits."""
    h = 0xCBF29CE484222325
    for t in tokens:
        for byte in t.encode():
            h = ((h ^ byte) * 0x100000001B3) & MASK64
        h = ((h ^ 32) * 0x100000001B3) & MASK64
    return (h ^ (h >> 32)) & 0xFFFFFFFF


def minhash_candidates(texts):
    """Python mirror of Dedup.minhashCandidates (k=32, 8 bands of 4 rows,
    bucket cap 1000): {(id_a, id_b): est_jaccard}. Two documents share a
    band bucket when the band's four signature values agree (the band
    key is a 64-bit hash of them)."""
    a, b = _minhash_perms(MINHASH_K)
    cache, sigs, buckets = {}, {}, {}
    for doc_id, text in texts.items():
        toks = text.split()
        wins = ([tuple(toks)] if len(toks) < 3 else
                [tuple(toks[i:i + 3]) for i in range(len(toks) - 2)])
        for w in wins:
            if w not in cache:
                cache[w] = _fnv_window(w)
        hs = np.array([cache[w] for w in wins], np.uint64)
        sig = ((hs[:, None] * a[None, :] + b[None, :]) &
               np.uint64(0xFFFFFFFF)).min(axis=0)
        sigs[doc_id] = sig
        rows = MINHASH_K // MINHASH_BANDS
        for band in range(MINHASH_BANDS):
            key = (band, sig[band * rows:(band + 1) * rows].tobytes())
            buckets.setdefault(key, []).append(doc_id)
    pairs = set()
    for members in buckets.values():
        if len(members) < 2:
            continue
        m = sorted(members)
        if len(m) <= BUCKET_CAP:
            pairs.update((x, y) for i, x in enumerate(m) for y in m[i + 1:])
        else:
            pairs.update((m[0], y) for y in m[1:])
    return {(x, y): float(np.count_nonzero(sigs[x] == sigs[y])) / MINHASH_K
            for x, y in pairs}


def _shingle_set(text):
    toks = text.split()
    if len(toks) < 3:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def _components(pairs):
    """Connected components of the pair graph: {node: smallest node of
    its component}."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x, y in pairs:
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    return {x: find(x) for x in parent}


def check_curation(run_dir):
    """Pins every step of the curation chain with a result computed here
    from the inputs: DuckDB for quality, exact dedup, lang-id, the set-
    similarity self-join, semantic dedup and the BM25 index; Python
    mirrors for MinHash candidates, exact Jaccard (recomputed from the
    texts), connected components and keepers."""
    con = duckdb.connect()
    # the workload's JVM has exited: every core is free
    con.sql(f"SET threads TO {os.cpu_count()}")
    con.sql("SET enable_progress_bar = false")
    out = f"{run_dir}/cur"
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{run_dir}/data/{t}.parquet')")
    for d in ("quality", "exact", "langid", "cand", "verified", "clusters",
              "curated", "simjoin", "semantic"):
        con.sql(f"CREATE VIEW {d} AS SELECT * FROM "
                f"read_parquet('{out}/{d}/*.parquet')")
    con.sql(f"CREATE VIEW bm25_postings AS SELECT * FROM read_parquet("
            f"'{out}/bm25_postings_doc_id_text/*/*.parquet', "
            "hive_partitioning = true, hive_types_autocast = false)")
    con.sql(f"CREATE VIEW bm25_stats AS SELECT * FROM read_parquet("
            f"'{out}/bm25_stats_doc_id_text/*.parquet')")
    problems = []

    def rows(sql):
        return set(con.sql(sql).fetchall())

    def pin(step, got, want):
        if got != want:
            problems.append({"id": step, "msg": (
                f"{len(got)} rows, oracle {len(want)}; "
                f"{len(got - want)} extra, {len(want - got)} missing")})

    def pin_sql(step, got_sql, want_sql):
        pin(step, rows(got_sql), rows(want_sql))

    pin_sql("quality", "SELECT doc_id FROM quality",
            f"SELECT doc_id FROM documents WHERE {QUALITY_SQL}")
    pin_sql("exact", "SELECT doc_id FROM exact",
            f"SELECT min(doc_id) FROM documents WHERE {QUALITY_SQL} "
            "GROUP BY text")
    pin_sql("langid", "SELECT doc_id FROM langid", LANGID_SQL)

    texts = dict(con.sql("SELECT doc_id, text FROM langid").fetchall())
    cand = minhash_candidates(texts)
    pin("minhash", rows("SELECT id_a, id_b, est_jaccard FROM cand"),
        {(x, y, e) for (x, y), e in cand.items()})
    verified = set()
    for x, y in cand:
        sx, sy = _shingle_set(texts[x]), _shingle_set(texts[y])
        inter = len(sx & sy)
        j = inter / (len(sx) + len(sy) - inter)
        if j >= 0.8:
            verified.add((x, y, j))
    pin("verify", rows("SELECT id_a, id_b, jaccard FROM verified"), verified)
    comp = _components((x, y) for x, y, _ in verified)
    pin("clusters", rows("SELECT id, cluster_id FROM clusters"),
        set(comp.items()))
    pin("keepers", rows("SELECT doc_id FROM curated"),
        {(d,) for d in texts if comp.get(d, d) == d})
    pin_sql("simjoin", "SELECT id_a, id_b, inter, uni, jaccard FROM simjoin",
            SIMJOIN_SQL)
    pin_sql("semantic", "SELECT vec_id, label FROM semantic", SEMANTIC_SQL)
    pin_sql("bm25", "SELECT term, doc_id, tf, len FROM bm25_postings",
            BM25_POSTINGS_SQL)
    pin_sql("bm25", "SELECT n_docs, sum_len FROM bm25_stats", BM25_STATS_SQL)
    return problems


def check(workload, run_dir, inputs, res):
    if workload == "governed_sql":
        return check_governed_sql(run_dir, inputs, res)
    if workload == "curation":
        return check_curation(run_dir)
    return []  # cdc_ingest reads are checked against the model in the JVM
