"""Seeded input generator for the benchmark workloads.

Every input is a pure function of (workload, seed): the same seed writes
byte-identical parquet, a different seed writes different rows. Nothing is
read from outside the output directory.

Shapes follow the sf0.1 tables the engine's gates are written against
(same column names and types), grown as id-disjoint replicas: replica r of
a table shifts every key by r * STRIDE and perturbs content, the scheme the
engine's own scaling harness uses. The properties the operators depend on
are planted on purpose:

  * orders -> customers is power-law (a few hub customers own many orders),
    lineitem -> parts is Zipf, so the co-purchase graph has hub nodes;
  * documents carry ~4% byte-exact duplicates and ~6% near duplicates
    (a few token edits), plus a language mix and punctuation;
  * embeddings are clustered around 10 label centroids.

Run `python3 perfbench/gen.py <workload> <seed> <dir>` to write one set and
print its row and byte counts.
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STRIDE = 100_000_000

# rows per replica, one replica = the sf0.1 table sizes
BASE = {"customer": 15_000, "orders": 150_000, "parts": 20_000}

# input sizes, sized so a run takes about a minute on 4 cores: the batch
# workload's order tables are 0.2 of an sf0.1 replica (the ETL pass and the
# co-purchase graph both read them), its corpus 700 documents; the serving
# workload's two indexes hold 600 items (2/3 ingested, the rest appended)
SIZES = {
    "batch": {"replicas": 0.2, "docs": 700},
    "serving": {"items": 600},
}

WORDS = ("batch part spark line column order small sort fast value scan hash "
         "slow group agg filter query big key window row table stream merge "
         "data join vector customer index shard cache page node edge graph "
         "rank model token train eval split shuffle").split()
STOP = ["the", "a", "and", "of", "to", "in", "is", "on", "for", "with"]
MARKERS = {
    "en": ["the", "and", "of", "is", "with", "for"],
    "de": ["der", "die", "und", "ist", "mit"],
    "fr": ["le", "la", "et", "est", "avec", "pour"],
    "es": ["el", "la", "y", "es", "con", "para"],
}
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
DIM = 64


def _rng(seed, workload, part):
    # independent streams per (workload, table) so resizing one table never
    # shifts the rows of another
    h = hashlib.sha256(f"{seed}/{workload}/{part}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def _power_law_keys(rng, n_draws, n_keys, alpha):
    """Draw n_draws keys in [0, n_keys) with P(rank r) ~ 1 / r^alpha, ranks
    assigned to keys by a random permutation (hubs are not the low ids)."""
    w = 1.0 / np.arange(1, n_keys + 1) ** alpha
    w /= w.sum()
    ranks = rng.choice(n_keys, size=n_draws, p=w)
    return rng.permutation(n_keys)[ranks]


def tpch(seed, workload, replicas):
    """customer / orders / lineitem, `replicas` id-disjoint copies."""
    cust, orders, lines = [], [], []
    n_c, n_o, n_p = BASE["customer"], BASE["orders"], BASE["parts"]
    for r in range(max(1, int(np.ceil(replicas)))):
        share = min(1.0, replicas - r)
        nc, no, npt = int(n_c * share), int(n_o * share), int(n_p * share)
        rng = _rng(seed, workload, f"tpch{r}")
        off = r * STRIDE
        ck = off + np.arange(nc, dtype=np.int64)
        cust.append(pa.table({
            "c_custkey": ck,
            "c_name": np.char.add("Customer#", np.char.zfill(ck.astype(str), 9)),
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": rng.choice(SEGMENTS, nc),
        }))
        ok = off + np.arange(no, dtype=np.int64)
        ocust = off + _power_law_keys(rng, no, nc, 0.9).astype(np.int64)
        prio = rng.choice(PRIOS, no).astype(object)
        # a small share of malformed priorities, so validation has work
        bad = rng.random(no) < 0.01
        prio[bad] = "6-UNKNOWN"
        dates = np.datetime64("1992-01-01") + rng.integers(0, 2400, no).astype("timedelta64[D]")
        orders.append(pa.table({
            "o_orderkey": ok,
            "o_custkey": ocust,
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": np.round(rng.uniform(-50.0, 400_000.0, no), 2),
            "o_orderdate": pa.array(dates.astype("datetime64[us]")),
            "o_orderpriority": prio.astype(str),
        }))
        per = rng.integers(1, 8, no)
        lo = np.repeat(ok, per)
        nl = lo.size
        ln = (np.arange(nl) - np.repeat(np.cumsum(per) - per, per) + 1).astype(np.int32)
        lines.append(pa.table({
            "l_orderkey": lo,
            "l_partkey": off + _power_law_keys(rng, nl, npt, 1.1).astype(np.int64),
            "l_suppkey": off + rng.integers(0, 1000, nl).astype(np.int64),
            "l_linenumber": ln,
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 100_000.0, nl), 2),
            "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": pa.array((np.repeat(dates, per)
                                    + rng.integers(1, 120, nl).astype("timedelta64[D]"))
                                   .astype("datetime64[us]")),
        }))
    return {"customer": pa.concat_tables(cust), "orders": pa.concat_tables(orders),
            "lineitem": pa.concat_tables(lines)}


def _doc_text(rng):
    lang = rng.choice(["en", "en", "en", "de", "fr", "es"])
    n = int(rng.integers(12, 90))
    toks = list(rng.choice(WORDS, n))
    # stopwords / language markers at realistic density
    for i in np.nonzero(rng.random(n) < 0.18)[0]:
        toks[i] = rng.choice(MARKERS[lang] if rng.random() < 0.6 else STOP)
    for i in np.nonzero(rng.random(n) < 0.04)[0]:
        toks[i] = toks[i] + rng.choice([",", ".", "!", "?"])
    return lang, toks


def documents(seed, workload, n_docs):
    """documents(doc_id, text, lang, source, n_chars) with planted exact
    and near duplicates."""
    rng = _rng(seed, workload, "documents")
    texts, langs = [], []
    for i in range(n_docs):
        u = rng.random()
        if i > 20 and u < 0.04:
            j = int(rng.integers(0, i))
            texts.append(texts[j]); langs.append(langs[j])
        elif i > 20 and u < 0.10:
            j = int(rng.integers(0, i))
            toks = texts[j].split(" ")
            for p in rng.choice(len(toks), max(1, len(toks) // 25), replace=False):
                toks[p] = rng.choice(WORDS)
            texts.append(" ".join(toks)); langs.append(langs[j])
        else:
            lang, toks = _doc_text(rng)
            texts.append(" ".join(toks)); langs.append(lang)
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{int(s)}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(seed, workload, n_vec):
    rng = _rng(seed, workload, "embeddings")
    cent = rng.normal(0.0, 1.0, (10, DIM))
    label = rng.integers(0, 10, n_vec).astype(np.int32)
    vec = (cent[label] + rng.normal(0.0, 0.6, (n_vec, DIM))).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": label,
    })


def tables_for(workload, seed):
    size = SIZES[workload]
    if workload == "batch":
        return {**tpch(seed, workload, size["replicas"]),
                "documents": documents(seed, workload, size["docs"])}
    if workload == "serving":
        # document i and embedding i describe the same item
        return {"embeddings": embeddings(seed, workload, size["items"]),
                "documents": documents(seed, workload, size["items"])}
    raise ValueError(f"unknown workload {workload}")


def generate(workload, seed, out_dir):
    """Write every input of `workload` under out_dir; return the manifest
    {table: {rows, bytes, sha256}} (also written as manifest.json)."""
    os.makedirs(out_dir, exist_ok=True)
    manifest = {}
    for name, t in sorted(tables_for(workload, seed).items()):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path, compression="snappy")
        with open(path, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()
        manifest[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path),
                          "sha256": digest}
    if workload == "batch":
        # the raw corpus arrives as JSON lines; ingest converts it
        docs = pq.read_table(os.path.join(out_dir, "documents.parquet")).to_pylist()
        path = os.path.join(out_dir, "documents.jsonl")
        with open(path, "w") as f:
            for d in docs:
                f.write(json.dumps(d, sort_keys=True) + "\n")
        manifest["documents.jsonl"] = {"rows": len(docs), "bytes": os.path.getsize(path)}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    wl, sd, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    for k, v in generate(wl, sd, out).items():
        print(f"{k}: {v['rows']} rows, {v['bytes']} bytes")
