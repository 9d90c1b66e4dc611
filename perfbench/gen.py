"""Seeded input generators for the registry_sweep and text_curation
workloads (lulc_pipeline's GeoTIFFs come from the program's own TIFF
writers, in the benchmark JVM).

The same seed gives byte-identical files: numpy's PCG64 stream, pyarrow
tables built column by column, fixed parquet writer settings.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- registry

# Table sizes of the test data's smallest scale (sf0.001): the registry sweep
# measures per-query fixed overhead, so the tables stay small.
REGISTRY_ROWS = dict(customer=150, supplier=10, part=200, orders=1500,
                     lineitem=6000, events=1000, documents=500, embeddings=500)
DOC_WORDS = ("join hash row batch scan column customer filter small slow merge "
             "order vector line table data agg value key stream window a spark "
             "part group big sort query fast the").split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
DAY_US = 86_400_000_000


def _write(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, store_schema=False)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    s = np.datetime64(start, "D").astype(np.int64)
    e = np.datetime64(end, "D").astype(np.int64)
    return pa.array(rng.integers(s, e + 1, n) * DAY_US, pa.timestamp("us"))


def registry_tables(out, seed):
    """The relational test data's schema (FIXTURES.md) at sf0.001 sizes."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n = REGISTRY_ROWS
    i32, i64 = pa.int32(), pa.int64()
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n["customer"])})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])})
    np_ = n["part"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(np_), i64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], np_),
        "p_size": pa.array(rng.integers(1, 51, np_), i32),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2)})
    no = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), i64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    nl = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, np_, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl)})
    ne = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = t0 + np.sort(rng.integers(0, 30 * DAY_US, ne))
    tables["events"] = pa.table({
        "event_id": pa.array(range(ne), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["customer"] // 10, ne), i64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], ne),
        "value": np.round(rng.exponential(60.0, ne) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = []
    for d in range(nd):
        if d > 10 and rng.random() < 0.05:  # planted near-duplicate
            texts.append(texts[int(rng.integers(0, d))] + " dup")
        else:
            texts.append(" ".join(rng.choice(DOC_WORDS, int(rng.integers(10, 100)))))
    langs = rng.choice(["en", "de", "es", "fr", "zh"], nd, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(nd), i64),
        "text": texts,
        "lang": langs,
        "source": [f"src{d % 20}" for d in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = 0.14 * centers[labels] + rng.normal(scale=0.125, size=(nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    for name, t in tables.items():
        _write(t, os.path.join(out, f"{name}.parquet"))


# ----------------------------------------------------------- text corpus

# Language-specific stopwords (no word shared between languages, so the
# program's stopword language guess is unambiguous on clean documents).
STOP = {"de": ["der", "die", "und", "das", "nicht", "ist", "ein"],
        "en": ["the", "and", "of", "to", "in", "is", "that"],
        "es": ["el", "que", "y", "los", "en"],
        "fr": ["le", "et", "les", "des", "un"],
        "zh": ["的", "是", "了", "在", "和", "有", "我"]}
LANG_MIX = (("en", 0.5), ("de", 0.125), ("es", 0.125), ("fr", 0.125), ("zh", 0.125))

# Corpus shape: every share below is of the base documents.
TEXT = dict(
    base_docs=1500,          # distinct clean documents before planting
    vocab=4000,              # content words
    stop_share=0.15,         # stopword share of a clean document's tokens
    tokens=(80, 140),        # clean document length range
    exact_dup_share=0.05,    # extra exact copies of clean singletons
    cluster_share=0.04,      # clean documents that seed a near-dup cluster
    cluster_size=(2, 4),     # extra near-duplicates per cluster
    edit_rate=0.03,          # token substitutions per near-duplicate
    low_quality_share=0.03,  # short, stopword-free documents (gate drops)
    lang_mismatch_share=0.02,  # lang label disagrees with the text (gate drops)
    repetitive_share=0.02,   # one phrase repeated (gate drops)
    dim=64, clusters=32, cluster_spread=0.35,
)


def _word(i):
    """The i-th content word: distinct for every i (two or more base-120
    consonant-vowel syllables), never a stopword."""
    cons, vows = "bcdfghjklmnpqrstvwxz", "aeiouy"
    out = []
    for _ in range(2):
        i, d = divmod(i, 120)
        out.append(cons[d // 6] + vows[d % 6])
    while i:
        i, d = divmod(i, 120)
        out.append(cons[d // 6] + vows[d % 6])
    return "".join(out) + "n"


def text_corpus(out, seed):
    """Corpus with planted exact duplicates, near-duplicate clusters and
    gate failures; `truth.json` records what a correct curation keeps.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    c = TEXT
    vocab = [_word(i) for i in range(c["vocab"])]
    langs = [l for l, _ in LANG_MIX]
    probs = [p for _, p in LANG_MIX]

    def clean(lang):
        n = int(rng.integers(*c["tokens"]))
        toks = []
        for _ in range(n):
            if rng.random() < c["stop_share"]:
                toks.append(STOP[lang][int(rng.integers(0, len(STOP[lang])))])
            else:
                toks.append(vocab[int(rng.integers(0, len(vocab)))])
        return toks

    docs = []  # (text, lang, kind, group)
    nb = c["base_docs"]
    base_lang = rng.choice(langs, nb, p=probs)
    bases = [clean(l) for l in base_lang]
    seeds = set(rng.choice(nb, int(nb * c["cluster_share"]), replace=False).tolist())
    singles = [b for b in range(nb) if b not in seeds]
    copies = set(rng.choice(singles, int(nb * c["exact_dup_share"]), replace=False).tolist())
    for b in range(nb):
        docs.append((" ".join(bases[b]), base_lang[b], "base", b))
        if b in copies:
            docs.append((" ".join(bases[b]), base_lang[b], "exact", b))
        if b in seeds:
            for _ in range(int(rng.integers(c["cluster_size"][0], c["cluster_size"][1] + 1))):
                toks = list(bases[b])
                for _ in range(max(1, round(len(toks) * c["edit_rate"]))):
                    toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, len(vocab)))]
                docs.append((" ".join(toks), base_lang[b], "near", b))
    for _ in range(int(nb * c["low_quality_share"])):
        docs.append((" ".join(vocab[int(k)] for k in rng.integers(0, len(vocab), 12)),
                     str(rng.choice(langs)), "low_quality", -1))
    for _ in range(int(nb * c["lang_mismatch_share"])):
        real = str(rng.choice(langs))
        label = str(rng.choice([l for l in langs if l != real]))
        docs.append((" ".join(clean(real)), label, "lang_mismatch", -1))
    for _ in range(int(nb * c["repetitive_share"])):
        lang = str(rng.choice(langs))
        phrase = clean(lang)[:5]
        docs.append((" ".join(phrase * 20), lang, "repetitive", -1))
    perm = rng.permutation(len(docs))
    docs = [docs[i] for i in perm]

    n = len(docs)
    ids = np.arange(n, dtype=np.int64)
    texts = [d[0] for d in docs]
    # embeddings with cluster structure, for the IVF top-k step
    centers = rng.normal(size=(c["clusters"], c["dim"]))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    cell = rng.integers(0, c["clusters"], n)
    vecs = centers[cell] + rng.normal(scale=c["cluster_spread"] / np.sqrt(c["dim"]),
                                      size=(n, c["dim"]))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "doc_id": pa.array(ids),
        "text": texts,
        "lang": [str(d[1]) for d in docs],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32()))}),
        os.path.join(out, "corpus.parquet"))

    # What a correct curation keeps: gate failures go; of every group of
    # identical texts the smallest id stays; of every near-duplicate
    # cluster the longest document (smallest id on ties) stays.
    groups = {}
    for i, d in enumerate(docs):
        if d[3] >= 0:
            groups.setdefault(d[3], []).append(i)
    keep = []
    for b, members in groups.items():
        if b in seeds:
            best = min(members, key=lambda i: (-len(texts[i]), i))
            keep.append(best)
        else:
            keep.append(min(members))
    kinds = {}
    for d in docs:
        kinds[d[2]] = kinds.get(d[2], 0) + 1
    truth = {"docs": n, "kinds": kinds, "keep": sorted(int(k) for k in keep),
             "clusters": len(seeds),
             "cluster_members": sorted(len(groups[b]) for b in seeds),
             "lang_mix": dict(LANG_MIX), "shape": {k: v for k, v in c.items()}}
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
