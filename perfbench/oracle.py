"""Answer checks against DuckDB, run after the measured JVM has exited.

The harness writes every serving response it returned and every
curation result of its reference pass, together with the program's own
oracle SQL (`SparkEntry.oracleSql`, `Corpus.webPagesCte`). Each is
compared here with what DuckDB computes from the same generated tables.
"""
import decimal
import json
import math

import duckdb

TABLES = ["part", "orders", "documents", "lineitem"]

# The sortable columns of the listing; any other name sorts by
# `last_crawled` (the reference's default names a column that does not
# exist).
SORTABLE = {"id", "url", "domain", "title", "last_crawled", "file_type",
            "embedding_type", "meta_description"}

SERVE_QUERY = {"dashboard": "q8_dashboard", "semantic": "q10_semantic_search",
               "snippet": "q11_snippet_search", "rag": "q12_rag_context"}


def connect(tables_dir):
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables_dir}/{t}.parquet')")
    return con


def listing_sql(web_pages_cte, token, sort_by, asc, offset):
    col = sort_by if sort_by in SORTABLE else "last_crawled"
    order = "ASC NULLS FIRST" if asc else "DESC NULLS LAST"
    return f"""WITH {web_pages_cte},
filtered AS (
  SELECT * FROM web_pages
  WHERE len(list_intersect(
    list_filter(string_split_regex(lower(title || ' ' || domain || ' ' || url),
                '[^a-z0-9_]+'), x -> x != ''),
    ['{token}'])) > 0)
SELECT (SELECT COUNT(*) FROM filtered) AS total,
  id, url, domain, title, CAST(epoch(last_crawled) AS BIGINT) AS crawled_s
FROM filtered
ORDER BY {col} {order}, id
LIMIT 10 OFFSET {offset}"""


def canon(v):
    """Plain comparable values: decimals and ints as floats, containers
    recursively."""
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return {k: canon(x) for k, x in v.items()}
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return float(v)
    return str(v)


def same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b)) or \
            abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    return a == b


def sort_key(row):
    return json.dumps(row, sort_keys=True, default=str)


def shared_embeddings(con, sql):
    """Semantic search and RAG context both start from the same embedded
    corpus CTE; build it once and let both oracle queries read it."""
    cte = sql["web_pages_emb_cte"]
    con.execute(f"CREATE TEMP TABLE wp_emb_once AS WITH {cte} SELECT * FROM wp_emb")
    for q in ("q10_semantic_search", "q12_rag_context"):
        assert cte in sql[q], q
        sql[q] = sql[q].replace(
            cte, "wp_emb AS (SELECT * FROM wp_emb_once)")


def check_serve(con, sql, answers_path):
    """Every recorded response against DuckDB. Returns (checked, failures)."""
    cache = {}
    shared_embeddings(con, sql)
    checked, failures = 0, []
    with open(answers_path) as f:
        for line in f:
            a = json.loads(line)
            kind = a["kind"]
            if kind == "listing":
                key = (kind, a["token"], a["sort_by"], a["asc"], a["offset"])
                q = listing_sql(sql["web_pages_cte"], a["token"], a["sort_by"],
                                a["asc"], a["offset"])
            else:
                key = (kind,)
                q = sql[SERVE_QUERY[kind]]
            if key not in cache:
                cache[key] = canon([list(r) for r in con.execute(q).fetchall()])
            checked += 1
            if not same(canon(a["rows"]), cache[key]):
                failures.append(f"{a['id']} ({kind}) differs from DuckDB")
    return checked, failures


def check_curate(con, sql, answers_path):
    """Each op's reference rows against its oracle SQL, as multisets."""
    checked, failures = 0, []
    with open(answers_path) as f:
        for line in f:
            a = json.loads(line)
            cur = con.execute(sql[a["query"]])
            names = [d[0] for d in cur.description]
            want = cur.fetchall()
            idx = [names.index(c) for c in a["columns"]]
            want = sorted((canon([r[i] for i in idx]) for r in want),
                          key=sort_key)
            got = sorted(canon(a["rows"]), key=sort_key)
            checked += 1
            if not same(got, want):
                failures.append(f"{a['op']} differs from DuckDB "
                                f"({len(got)} vs {len(want)} rows)")
    return checked, failures
