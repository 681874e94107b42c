"""Output checks against DuckDB, run outside every timed span.

Each check compares what a pass wrote with a reference computed by DuckDB
over the same generated parquet, and returns a list of mismatch strings.
For corpus_prep and graph_iterate the reference SQL is the engine's own
oracle for the matching composition (exported by the harness); for
etl_pipeline it is written here.
"""
import glob
import os

import duckdb

PRIOS = "('1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW')"


def _connect(data_dir, tables):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _parquet(path):
    return f"SELECT * FROM read_parquet('{path}/*.parquet')"


def same_rows(con, label, got_sql, want_sql):
    """Multiset equality of two queries over the reference's columns."""
    want_cols = [d[0] for d in con.execute(f"SELECT * FROM ({want_sql}) LIMIT 0").description]
    cols = ", ".join(f'"{c}"' for c in want_cols)
    con.execute(f"CREATE OR REPLACE TEMP TABLE want AS {want_sql}")
    con.execute(f"CREATE OR REPLACE TEMP TABLE got AS SELECT {cols} FROM ({got_sql})")
    n_got, n_want = (con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in ("got", "want"))
    extra = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM got EXCEPT ALL "
                        f"SELECT {cols} FROM want)").fetchone()[0]
    missing = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM want EXCEPT ALL "
                          f"SELECT {cols} FROM got)").fetchone()[0]
    if extra or missing or n_got != n_want:
        return [f"{label}: {n_got} rows vs {n_want} expected, {extra} unexpected, {missing} missing"]
    return []


def _components(pairs):
    """Union-find over (d1, d2) pairs -> {node: smallest id in component}."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def corpus_prep(data_dir, out_dir, oracle):
    con = _connect(data_dir, ["documents"])
    bad = []
    bad += same_rows(con, "quality", _parquet(f"{out_dir}/quality"), oracle["text_quality"])
    bad += same_rows(con, "exact", _parquet(f"{out_dir}/exact"),
                     "SELECT doc_id AS doc, min(doc_id) OVER (PARTITION BY text) AS keep_id, "
                     "count(*) OVER (PARTITION BY text) AS n_dups FROM documents")
    con.execute(f"CREATE TEMP TABLE pairs_ref AS {oracle['dedup_minhash_lsh']}")
    bad += same_rows(con, "minhash pairs", _parquet(f"{out_dir}/pairs"), "SELECT * FROM pairs_ref")
    pairs = con.execute("SELECT d1, d2 FROM pairs_ref").fetchall()
    comp = _components(pairs)
    con.execute("CREATE OR REPLACE TEMP TABLE cc_ref (node BIGINT, label BIGINT)")
    if comp:
        con.executemany("INSERT INTO cc_ref VALUES (?, ?)", list(comp.items()))
    bad += same_rows(con, "components", _parquet(f"{out_dir}/components"), "SELECT * FROM cc_ref")
    bad += same_rows(con, "decontam", _parquet(f"{out_dir}/decontam"), oracle["corpus_decontaminate"])
    # admission = canonical cluster member, English, quality >= 0.5 (the
    # corpus_filter_neardup oracle's rule, over the union-find components)
    bad += same_rows(con, "admitted", _parquet(f"{out_dir}/admitted"), f"""
        SELECT d.doc_id, COALESCE(c.label, d.doc_id) AS cluster, l.lang_pred, q.quality_score
        FROM documents d LEFT JOIN cc_ref c ON d.doc_id = c.node
        JOIN ({oracle['text_quality']}) q ON q.doc_id = d.doc_id
        JOIN ({oracle['text_langid']}) l ON l.doc_id = d.doc_id
        WHERE COALESCE(c.label, d.doc_id) = d.doc_id
          AND l.lang_pred = 'en' AND q.quality_score >= 0.5""")
    bad += same_rows(con, "packed", _parquet(f"{out_dir}/packed"), oracle["corpus_pack"])
    return bad


def graph_iterate(data_dir, out_dir, oracle):
    con = _connect(data_dir, ["orders", "lineitem"])
    return (same_rows(con, "pagerank", _parquet(f"{out_dir}/pagerank"),
                      oracle["graph_pagerank_weighted_ingested"])
            + same_rows(con, "communities", _parquet(f"{out_dir}/communities"),
                        oracle["graph_communities"]))


ETL_SHAPED = f"""
WITH la AS (SELECT l_orderkey, count(*) AS n_lines, sum(l_quantity) AS qty
            FROM lineitem GROUP BY l_orderkey)
SELECT o_orderkey AS okey, c_name AS cust, c_mktsegment AS segment,
       CASE o_orderstatus WHEN 'F' THEN 'fulfilled' WHEN 'O' THEN 'open'
                          WHEN 'P' THEN 'pending' END AS route,
       CAST(o_orderdate AS DATE) AS odate, o_totalprice AS price,
       n_lines AS lines, qty,
       (o_orderpriority IN {PRIOS}) AND COALESCE(o_totalprice > 0.0, false) AS valid
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
            LEFT JOIN la ON o_orderkey = l_orderkey"""


def _fixed_width_sql(rows_sql):
    return f"""
SELECT lpad(CAST(okey AS VARCHAR), 12, '0')
    || CASE WHEN cust IS NULL THEN repeat(' ', 18) ELSE rpad(substr(cust, 1, 18), 18, ' ') END
    || CASE WHEN route IS NULL THEN repeat(' ', 9) ELSE rpad(substr(route, 1, 9), 9, ' ') END
    || CASE WHEN odate IS NULL THEN '00000000' ELSE strftime(odate, '%Y%m%d') END
    || CASE WHEN lines IS NULL THEN repeat(' ', 3) ELSE lpad(CAST(lines AS VARCHAR), 3, '0') END
    || CASE WHEN valid IS NULL THEN ' ' WHEN valid THEN '1' ELSE '0' END AS value
FROM ({rows_sql})"""


def etl_pipeline(data_dir, out_dir):
    con = _connect(data_dir, ["orders", "customer", "lineitem"])
    con.execute(f"CREATE TEMP TABLE shaped AS {ETL_SHAPED}")
    fresh = "SELECT * FROM shaped WHERE okey % 3 <> 0"
    stale = ("SELECT o_orderkey AS okey, CAST(NULL AS VARCHAR) AS cust, "
             "CAST(NULL AS VARCHAR) AS segment, 'legacy' AS route, "
             "CAST(o_orderdate AS DATE) AS odate, o_totalprice AS price, "
             "CAST(0 AS BIGINT) AS lines, 0.0::DOUBLE AS qty, true AS valid "
             "FROM orders WHERE o_orderkey % 3 = 0")
    merged = (f"SELECT * FROM shaped WHERE valid UNION ALL SELECT * FROM ({stale}) s "
              f"WHERE okey NOT IN (SELECT okey FROM shaped WHERE valid)")
    bad = []
    bad += same_rows(con, "orders_new", _parquet(f"{out_dir}/orders_new"), fresh)
    bad += same_rows(con, "lines_new", _parquet(f"{out_dir}/lines_new"),
                     "SELECT * FROM lineitem WHERE l_orderkey % 3 <> 0")
    bad += same_rows(con, "merged", _parquet(f"{out_dir}/merged"), merged)
    got = []
    for f in sorted(glob.glob(os.path.join(out_dir, "fixed", "part-*"))):
        with open(f, encoding="utf-8") as fh:
            got += fh.read().splitlines()
    want = [r[0] for r in con.execute(_fixed_width_sql(fresh)).fetchall()]
    if sorted(got) != sorted(want):
        diff = len(set(got) ^ set(want))
        bad.append(f"fixed-width: {len(got)} lines vs {len(want)} expected, {diff} differ")
    return bad


def batch(data_dir, work_dir, oracle):
    """The batch workload's three pipelines, each against its reference."""
    return (etl_pipeline(data_dir, os.path.join(work_dir, "etl", "out"))
            + graph_iterate(data_dir, os.path.join(work_dir, "graph", "out"), oracle)
            + corpus_prep(data_dir, os.path.join(work_dir, "corpus", "out"), oracle))


# serving checks its reads in-process (against freshly built indexes)
CHECKS = {"batch": batch}
