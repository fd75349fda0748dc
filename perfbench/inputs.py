"""Seeded input generators for the three benchmark workloads.

Everything here is a pure function of (seed, scale): the same seed always
writes byte-identical inputs. Tables are written with DuckDB, corpora and
signature batches with Python's `random.Random(seed)`. Nothing reads the
engine; the planted truth each generator returns is what the oracles in
`oracles.py` check the engine's answers against.
"""
import os
import random

import duckdb

MASK64 = (1 << 64) - 1

# ---------------------------------------------------------------- tables


def _scaled(n, scale, floor):
    return max(floor, int(n * scale))


def pig_tables(out_dir, seed, scale):
    """TPC-H/PigMix-shaped tables as parquet under `out_dir`.

    Every double is integer-valued so sums are exact in any summation
    order and Spark and DuckDB agree bit for bit. Returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    n = {
        "nation": 25,
        "supplier": _scaled(200, scale, 10),
        "part": _scaled(4000, scale, 40),
        "customer": _scaled(5000, scale, 50),
        "orders": _scaled(50000, scale, 500),
        "events": _scaled(50000, scale, 500),
    }
    n["lineitem"] = n["orders"] * 4
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    s = int(seed)

    def h(salt, mod):
        # deterministic per (row, seed, salt); DuckDB's hash is stable for
        # a given DuckDB build, and the seed is folded into every draw
        return f"((hash(i, {s}, {salt}) % {mod})::BIGINT)"

    q = {
        "nation": f"""SELECT i::INTEGER AS n_nationkey,
              'NATION' || i AS n_name, (i % 5)::INTEGER AS n_regionkey
            FROM range(25) t(i)""",
        "supplier": f"""SELECT (i + 1)::BIGINT AS s_suppkey,
              'Supplier#' || i AS s_name,
              {h(1, 25)}::INTEGER AS s_nationkey,
              ({h(2, 10000)} - 1000)::DOUBLE AS s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""SELECT (i + 1)::BIGINT AS p_partkey,
              'part' || i AS p_name,
              'Brand#' || (1 + {h(3, 25)}) AS p_brand,
              ['STANDARD', 'SMALL', 'MEDIUM', 'LARGE', 'ECONOMY',
               'PROMO'][1 + {h(4, 6)}] AS p_type,
              (1 + {h(5, 50)})::INTEGER AS p_size,
              (900 + {h(6, 1100)})::DOUBLE AS p_retailprice
            FROM range({n['part']}) t(i)""",
        "customer": f"""SELECT (i + 1)::BIGINT AS c_custkey,
              'Customer#' || i AS c_name,
              {h(7, 25)}::INTEGER AS c_nationkey,
              ({h(8, 11000)} - 1000)::DOUBLE AS c_acctbal,
              ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD',
               'MACHINERY'][1 + {h(9, 5)}] AS c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "orders": f"""SELECT (i + 1)::BIGINT AS o_orderkey,
              (1 + {h(10, n['customer'])})::BIGINT AS o_custkey,
              ['F', 'O', 'P'][1 + {h(11, 3)}] AS o_orderstatus,
              (1000 + {h(12, 400000)})::DOUBLE AS o_totalprice,
              ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED',
               '5-LOW'][1 + {h(13, 5)}] AS o_orderpriority
            FROM range({n['orders']}) t(i)""",
        "lineitem": f"""SELECT (1 + i // 4)::BIGINT AS l_orderkey,
              (1 + {h(14, n['part'])})::BIGINT AS l_partkey,
              (1 + {h(15, n['supplier'])})::BIGINT AS l_suppkey,
              (1 + i % 4)::INTEGER AS l_linenumber,
              (1 + {h(16, 50)})::DOUBLE AS l_quantity,
              ((1 + {h(16, 50)}) * (900 + {h(17, 1100)}))::DOUBLE
                AS l_extendedprice,
              {h(18, 11)}::DOUBLE AS l_discount,
              {h(19, 9)}::DOUBLE AS l_tax,
              ['A', 'N', 'R'][1 + {h(20, 3)}] AS l_returnflag,
              ['F', 'O'][1 + {h(21, 2)}] AS l_linestatus
            FROM range({n['lineitem']}) t(i)""",
        "events": f"""SELECT i::BIGINT AS event_id,
              {h(22, 5000)}::BIGINT AS user_id,
              ['view', 'click', 'signup', 'purchase', 'error',
               'share'][1 + {h(23, 6)}] AS event_type,
              {h(24, 200)}::DOUBLE AS value
            FROM range({n['events']}) t(i)""",
    }
    for t, sql in q.items():
        con.execute(f"COPY ({sql} ORDER BY 1) TO '{out_dir}/{t}.parquet' "
                    "(FORMAT parquet)")
    con.close()
    return n


# ---------------------------------------------------------------- text

_STOP = ["the", "of", "and", "to", "a", "in", "is", "that", "for", "it",
         "with", "as", "was", "on", "be", "by", "this", "are", "from", "at"]
_SYL = ["ka", "lo", "mi", "ren", "ta", "sol", "ver", "an", "dro", "el",
        "pa", "tor", "qui", "ne", "ba", "sen", "ul", "mor", "ti", "gra",
        "fe", "lin", "op", "cas", "du", "ri", "val", "xo", "ha", "nim"]


def vocabulary(rng, size):
    words = set()
    while len(words) < size:
        words.add("".join(rng.choice(_SYL) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def prose(rng, vocab, n_words):
    """English-shaped prose: content words from `vocab` with stopwords
    mixed in at a natural rate, so language ID says `en` and the quality
    gates keep it."""
    out = []
    for k in range(n_words):
        w = rng.choice(_STOP) if rng.random() < 0.35 else rng.choice(vocab)
        out.append(w)
        if k % 12 == 11:
            out[-1] += "."
    return " ".join(out)


def mutate_words(rng, vocab, text, k):
    """A near-duplicate: `k` content words replaced (word 3-gram Jaccard
    stays far above 0.8 for 60+ word documents)."""
    words = text.split(" ")
    for _ in range(k):
        j = rng.randrange(len(words))
        words[j] = rng.choice(vocab)
    return " ".join(words)


# ---------------------------------------------------------------- curation

_HTML_HEAD = ("<html><head><title>Example page</title>{robots}"
              "<style>nav {{color: blue}}</style></head><body>"
              "<nav><a href=\"/\">Home page</a> <a href=\"/about\">About "
              "us</a> <a href=\"/contact\">Contact info</a></nav>")
_HTML_TAIL = ("<div>Copyright 2026 Example Corp</div><p>Read more: "
              "<a href=\"/next\">the next related article in this "
              "series</a></p></body></html>")


def _warc_record(rec_id, uri, status, html):
    body = html.encode("utf-8")
    reason = "OK" if status == 200 else "Not Found"
    http = (f"HTTP/1.1 {status} {reason}\r\n"
            "Content-Type: text/html; charset=utf-8\r\n"
            f"Content-Length: {len(body)}\r\n\r\n").encode("ascii") + body
    hdr = ("WARC/1.0\r\n"
           f"WARC-Record-ID: <urn:bench:doc:{rec_id}>\r\n"
           "WARC-Type: response\r\n"
           f"WARC-Target-URI: {uri}\r\n"
           "WARC-Date: 2026-01-01T00:00:00Z\r\n"
           "Content-Type: application/http; msgtype=response\r\n"
           f"Content-Length: {len(http)}\r\n\r\n").encode("ascii")
    return hdr + http + b"\r\n\r\n"


def warc_corpus(out_dir, seed, base_docs, replicas, files):
    """A WARC corpus: `base_docs` seeded pages, replicated `replicas`
    times with a per-replica word suffix (the `tools/make_sf1.py`
    scheme: cross-replica overlap drops to ~0, the in-replica dup rate
    is kept). Each replica plants exact copies (same page at another
    URL), URL variants (same URL, other spelling), near copies, 404s,
    robots-noindex pages and symbol junk that the quality gate drops.

    Returns the planted truth: record count and exact-copy groups."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed * 7919 + 1)
    vocab = vocabulary(rng, 3000)
    base = []  # (kind, text or None, origin index)
    for i in range(base_docs):
        r = rng.random()
        if i >= 10 and r < 0.08:
            base.append(("exact", None, rng.randrange(i)))
        elif i >= 10 and r < 0.12:
            base.append(("urlvar", None, rng.randrange(i)))
        elif i >= 10 and r < 0.18:
            base.append(("near", None, rng.randrange(i)))
        elif r < 0.21:
            base.append(("junk", None, None))
        elif r < 0.23:
            base.append(("s404", None, None))
        elif r < 0.25:
            base.append(("noindex", None, None))
        else:
            base.append(("fresh", prose(rng, vocab, rng.randint(50, 160)),
                         None))
    # resolve copies to their root fresh page
    def root(j):
        while base[j][0] in ("exact", "urlvar", "near"):
            j = base[j][2]
        return j
    texts, urls, statuses, robots = [], [], [], []
    for i, (kind, text, origin) in enumerate(base):
        url = f"https://site{i % 97}.example.com/p/{i}"
        status, rob = 200, ""
        if kind in ("exact", "urlvar", "near"):
            o = root(origin)
            if base[o][0] != "fresh":
                kind, text = "fresh", prose(rng, vocab, 80)
            else:
                text = base[o][1]
                if kind == "near":
                    text = mutate_words(rng, vocab, text, 2)
                if kind == "urlvar":
                    # same page, another spelling of its URL
                    url = (f"http://SITE{o % 97}.example.com/p/{o}/"
                           "?utm_source=x")
        elif kind == "junk":
            text = " ".join("#$%&*@!"[rng.randrange(7)] * rng.randint(3, 9)
                            for _ in range(40))
        elif kind == "s404":
            text, status = prose(rng, vocab, 60), 404
        elif kind == "noindex":
            text = prose(rng, vocab, 60)
            rob = '<meta name="robots" content="noindex">'
        base[i] = (kind, text, origin)
        texts.append(text)
        urls.append(url)
        statuses.append(status)
        robots.append(rob)

    exact_groups = {}
    n = 0
    handles = [open(os.path.join(out_dir, f"part-{k:03d}.warc"), "wb")
               for k in range(files)]
    try:
        for rep in range(replicas):
            suf = "" if rep == 0 else chr(97 + rep % 26) * (1 + rep // 26)
            for i, (kind, _, origin) in enumerate(base):
                text = texts[i]
                if suf:
                    text = " ".join(w + suf for w in text.split(" "))
                doc_id = rep * 1_000_000 + i
                if kind in ("exact", "urlvar"):
                    o = root(origin)
                    exact_groups.setdefault(rep * 1_000_000 + o,
                                            [rep * 1_000_000 + o]).append(doc_id)
                html = (_HTML_HEAD.format(robots=robots[i]) +
                        "<p>" + text + "</p>" + _HTML_TAIL)
                url = urls[i]
                if rep:
                    url = url.replace(".example.com", f".r{rep}.example.com")
                    url = url.replace(".EXAMPLE.com", f".r{rep}.example.com")
                handles[n % files].write(
                    _warc_record(doc_id, url, statuses[i], html))
                n += 1
    finally:
        for f in handles:
            f.close()
    return {"records": n,
            "exact_groups": sorted(v for v in exact_groups.values())}


# ---------------------------------------------------------------- dedup-ingest


def _flip_bits(rng, sig, k):
    for b in rng.sample(range(64), k):
        sig ^= 1 << b
    return sig


def _signed(u):
    return u - (1 << 64) if u >= (1 << 63) else u


def dedup_stream(out_dir, seed, base_docs, base_sigs, batches, text_batch,
                 sig_batch):
    """Base corpora for the two persisted indexes plus a stream of
    alternating text / signature batches with planted duplicates.

    Planted duplicates only ever point at rows that are indexed before
    the batch runs: the base corpus or fresh rows of earlier batches
    (which survive and are appended). Returns the truth per batch:
    which ids must drop, which may drop (text near copies, whose
    MinHash recall is probabilistic), and which must survive."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed * 104729 + 7)
    vocab = vocabulary(rng, 5000)
    def write(name, cols, rows):
        import pyarrow as pa
        import pyarrow.parquet as pq
        tbl = pa.table({c: [r[k] for r in rows] for k, c in enumerate(cols)})
        pq.write_table(tbl, os.path.join(out_dir, name))

    docs = [(i, prose(rng, vocab, rng.randint(60, 140)))
            for i in range(base_docs)]
    write("base_text.parquet", ["id", "text"], docs)
    indexed_text = list(docs)
    sigs = [(i, _signed(rng.getrandbits(64))) for i in range(base_sigs)]
    write("base_sigs.parquet", ["id", "sig"], sigs)
    indexed_sig = list(sigs)

    truth = []
    next_id = 10_000_000
    for b in range(batches):
        must_drop, may_drop, must_keep, rows = [], [], [], []
        if b % 2 == 0:
            for _ in range(text_batch):
                i, next_id = next_id, next_id + 1
                r = rng.random()
                if r < 0.1:
                    rows.append((i, rng.choice(indexed_text)[1]))
                    must_drop.append(i)
                elif r < 0.2:
                    rows.append((i, mutate_words(
                        rng, vocab, rng.choice(indexed_text)[1], 1)))
                    may_drop.append(i)
                else:
                    rows.append((i, prose(rng, vocab, rng.randint(60, 140))))
                    must_keep.append(i)
            keep = set(must_keep)
            indexed_text.extend(r for r in rows if r[0] in keep)
            write(f"batch-{b:04d}.parquet", ["id", "text"], rows)
            kind = "text"
        else:
            for _ in range(sig_batch):
                i, next_id = next_id, next_id + 1
                r = rng.random()
                if r < 0.3:
                    src = rng.choice(indexed_sig)[1] & MASK64
                    rows.append((i, _signed(_flip_bits(
                        rng, src, rng.randint(0, 7)))))
                    must_drop.append(i)
                else:
                    rows.append((i, _signed(rng.getrandbits(64))))
                    must_keep.append(i)
            keep = set(must_keep)
            indexed_sig.extend(r for r in rows if r[0] in keep)
            write(f"batch-{b:04d}.parquet", ["id", "sig"], rows)
            kind = "sig"
        truth.append({"batch": b, "kind": kind, "rows": len(rows),
                      "must_drop": must_drop, "may_drop": may_drop,
                      "must_keep": must_keep})
    return truth

