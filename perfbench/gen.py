"""Seeded input generator for the benchmark.

Writes the tables the measured layers read (`part`, `orders`,
`documents`, `lineitem`, with the same columns and types as the
project's parquet testdata) plus the page items the ingest workload
drains. The same seed always gives byte-identical files.
"""
import hashlib
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ADJ = ["red", "small", "hot", "cold", "old", "new", "large", "blue"]
NOUN = ["gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt", "rod"]
TITLE_VOCAB = ADJ + NOUN
TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
DOC_VOCAB = ("spark window merge table column vector stream value data small "
             "join filter big group hash customer sort order slow line part "
             "fast row the agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

# Table sizes. `part` is the serving corpus (one web page per part),
# `orders` the job ledger; `documents` and `lineitem` feed curation.
SIZES = {"part": 10_000, "orders": 150_000, "documents": 500,
         "lineitem": 30_000}

# Ingest: a pre-seeded corpus in PRESEED_SLICES crawl stamps, then
# staged files of ITEMS_PER_FILE page items each.
PRESEED_PAGES = 10_000
PRESEED_SLICES = 8
ITEMS_PER_FILE = 400

EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")


def _words(r, vocab, lo, hi):
    """lo..hi words drawn from vocab; r is a random.Random (per-call draws
    are much cheaper there than on a numpy generator)."""
    return " ".join(r.choices(vocab, k=r.randint(lo, hi)))


def _write(table, path):
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def part(rng, n):
    keys = np.arange(n, dtype=np.int64)
    names = [f"{ADJ[a]} {NOUN[b]}" for a, b in
             zip(rng.integers(0, 8, n), rng.integers(0, 8, n))]
    return pa.table({
        "p_partkey": keys,
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": [TYPES[t] for t in rng.integers(0, len(TYPES), n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + keys * 0.1, 2),
    })


def orders(rng, n, n_cust):
    days = rng.integers(0, 2404, n)
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(900, 400_000, n), 2),
        "o_orderdate": pa.array(EPOCH_1995 + days.astype("timedelta64[D]"),
                                pa.timestamp("us")),
        "o_orderpriority": [("1-URGENT", "2-HIGH", "3-MEDIUM",
                             "4-NOT SPECIFIED", "5-LOW")[p]
                            for p in rng.integers(0, 5, n)],
    })


def documents(rng, r, n):
    """Random-word documents with planted duplicates: about 5% repeat an
    earlier document plus a ' dup' tail, and a few repeat one exactly."""
    texts = []
    for i in range(n):
        x = r.random()
        if i > 10 and x < 0.05:
            texts.append(texts[r.randrange(i)] + " dup")
        elif i > 10 and x < 0.052:
            texts.append(texts[r.randrange(i)])
        else:
            texts.append(_words(r, DOC_VOCAB, 10, 100))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def lineitem(rng, n, n_ord, n_part):
    qty = rng.integers(1, 51, n).astype(np.float64)
    days = rng.integers(0, 2500, n)
    return pa.table({
        "l_orderkey": rng.integers(0, n_ord, n).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 1000, n).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": [("N", "R", "A")[f] for f in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[f] for f in rng.integers(0, 2, n)],
        "l_shipdate": pa.array(EPOCH_1995 + days.astype("timedelta64[D]"),
                               pa.timestamp("us")),
    })


ITEM_SCHEMA = pa.schema([
    ("url", pa.string()), ("title", pa.string()),
    ("meta_description", pa.string()),
    ("meta_tags", pa.map_(pa.string(), pa.string())),
    ("content", pa.string()), ("file_type", pa.string()),
    ("embedding_type", pa.string())])


def _page(r, url, kind):
    """One PageItem row. kind: html | pdf | image | drop."""
    if kind == "image":
        return {"url": url + ".jpg", "title": None, "meta_description": None,
                "meta_tags": [], "content": None, "file_type": "image",
                "embedding_type": "vision"}
    content = _words(r, DOC_VOCAB, 20, 80)
    return {"url": url, "title": _words(r, TITLE_VOCAB, 2, 4),
            "meta_description": _words(r, DOC_VOCAB, 4, 8),
            "meta_tags": [("description", "d"), ("keywords", "k")],
            # a drop row is html without content: the ingest guard drops it
            "content": None if kind == "drop" else content,
            "file_type": "pdf" if kind == "pdf" else "html",
            "embedding_type": "text"}


def _kind(r):
    x = r.random()
    return ("image" if x < 0.10 else "drop" if x < 0.12
            else "pdf" if x < 0.22 else "html")


def page_items(r, n_files, base_id):
    """Staged files: 60% updates to pre-seeded urls, skewed toward the
    most recently crawled slices, 40% new urls. Images, pdfs and rows the
    guards drop are mixed in by `_kind`."""
    slice_w = [(s + 1) ** 2 for s in range(PRESEED_SLICES)]
    per_slice = PRESEED_PAGES // PRESEED_SLICES
    next_id = base_id
    files = []
    for _ in range(n_files):
        rows = []
        for _ in range(ITEMS_PER_FILE):
            if r.random() < 0.6:
                s = r.choices(range(PRESEED_SLICES), weights=slice_w)[0]
                pid = s * per_slice + r.randrange(per_slice)
                row = _page(r, page_url(pid), "html")
            else:
                row = _page(r, page_url(next_id), _kind(r))
                next_id += 1
            rows.append(row)
        files.append(pa.Table.from_pylist(rows, schema=ITEM_SCHEMA))
    return files


def page_url(pid):
    return f"https://site{pid % 50}.example/page/{pid}"


def preseed(r):
    """PRESEED_SLICES files of pre-seeded pages, oldest slice first."""
    per_slice = PRESEED_PAGES // PRESEED_SLICES
    kinds = ["html"] * 8 + ["pdf", "image"]
    out = []
    for s in range(PRESEED_SLICES):
        rows = [_page(r, page_url(s * per_slice + i), r.choice(kinds))
                for i in range(per_slice)]
        out.append(pa.Table.from_pylist(rows, schema=ITEM_SCHEMA))
    return out


def generate(seed, out_dir, stage_files):
    """Write every input for `seed` under out_dir; return a summary with
    sizes and a digest over all written bytes."""
    rng = np.random.default_rng(seed)
    r = random.Random(seed)
    tables = os.path.join(out_dir, "tables")
    os.makedirs(tables, exist_ok=True)
    n = SIZES
    _write(part(rng, n["part"]), f"{tables}/part.parquet")
    _write(orders(rng, n["orders"], 15_000), f"{tables}/orders.parquet")
    _write(documents(rng, r, n["documents"]), f"{tables}/documents.parquet")
    _write(lineitem(rng, n["lineitem"], n["orders"], n["part"]),
           f"{tables}/lineitem.parquet")
    pre = os.path.join(out_dir, "preseed")
    os.makedirs(pre, exist_ok=True)
    for i, t in enumerate(preseed(r)):
        _write(t, f"{pre}/slice-{i:03d}.parquet")
    stage = os.path.join(out_dir, "items")
    os.makedirs(stage, exist_ok=True)
    files = page_items(r, stage_files, PRESEED_PAGES)
    for i, t in enumerate(files):
        _write(t, f"{stage}/items-{i:04d}.parquet")
    h = hashlib.sha256()
    corpus_bytes = 0
    for root, _, names in sorted(os.walk(out_dir)):
        for name in sorted(names):
            path = os.path.join(root, name)
            with open(path, "rb") as f:
                data = f.read()
            h.update(name.encode())
            h.update(data)
            corpus_bytes += len(data)
    return {"seed": seed, "input_digest": h.hexdigest()[:16],
            "input_bytes": corpus_bytes,
            "rows": dict(n, preseed_pages=PRESEED_PAGES,
                         staged_files=stage_files,
                         staged_items=stage_files * ITEMS_PER_FILE)}


# serve: the request mix (shares of the timed requests) and the listing
# parameter space. Invalid sort names exercise the fallback to
# `last_crawled`.
MIX = [("listing", 0.35), ("semantic", 0.25), ("rag", 0.15),
       ("snippet", 0.15), ("dashboard", 0.10)]
SORT_COLUMNS = ["last_crawled", "id", "url", "domain", "title", "file_type",
                "meta_description", "embedding_type", "relevance", "created_at"]


def _request_rows(rng, kinds, dues, prefix):
    rows = []
    for i, (kind, due) in enumerate(zip(kinds, dues)):
        token, sort_by, asc, offset = "", "", 0, 0
        if kind == "listing":
            token = TITLE_VOCAB[int(rng.integers(0, len(TITLE_VOCAB)))]
            sort_by = SORT_COLUMNS[int(rng.integers(0, len(SORT_COLUMNS)))]
            asc = int(rng.integers(0, 2))
            offset = 10 * int(rng.integers(0, 10))
        rows.append(f"{prefix}{i}\t{kind}\t{due:.3f}\t{token}\t{sort_by}"
                    f"\t{asc}\t{offset}")
    return rows


def requests(seed, n, seconds):
    """n timed requests arriving as a Poisson process conditioned on n
    arrivals in `seconds` (sorted uniform due times, in ms). The mix is
    exact and each kind is spread evenly through the window, from a
    seeded phase, so that no stretch of the window holds a run of one
    kind."""
    rng = np.random.default_rng([seed, 1])
    counts = {kind: int(round(share * n)) for kind, share in MIX}
    counts["listing"] += n - sum(counts.values())
    slots = sorted((j + rng.uniform(), kind) for kind, c in counts.items()
                   for j in np.arange(c) * (n / c) if c)
    kinds = [kind for _, kind in slots]
    dues = np.sort(rng.uniform(0, seconds * 1000.0, len(kinds)))
    return _request_rows(rng, kinds, dues, "r")


def fixed_requests(seed, per_kind, spread_ms, prefix):
    """per_kind requests of every kind, evenly spread over spread_ms."""
    rng = np.random.default_rng([seed, 2 if prefix == "w" else 3])
    kinds = [k for _ in range(per_kind) for k, _ in MIX]
    n = len(kinds)
    dues = [spread_ms * i / n for i in range(n)]
    return _request_rows(rng, kinds, dues, prefix)


def write_requests(seed, out_dir, n, seconds):
    sets = {"requests": requests(seed, n, seconds),
            "warm_requests": fixed_requests(seed, 4, 0.0, "w"),
            "mini_requests": fixed_requests(seed, 2, 2000.0, "m")}
    for name, rows in sets.items():
        with open(os.path.join(out_dir, f"{name}.tsv"), "w") as f:
            f.write("\n".join(rows) + "\n")
    return {name: len(rows) for name, rows in sets.items()}
