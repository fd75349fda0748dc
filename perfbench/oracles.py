"""Correctness oracles, independent of graft.

Each `check_*` reads the JVM's check records (one JSON line per op) and
returns (failed op ids, notes, extra values: per-layer metrics and
checked values):

* pig-scripts: DuckDB runs the script's SQL twin over the same parquet
  files; rows compare after the `tools/check.py` canonicalization (sorted
  rows, floats to 6 significant digits).
* curation: stage row counts never increase and repeat on every pass;
  DuckDB re-reads the last pass and confirms its counts, that no planted
  exact-duplicate group keeps more than one page, and that every pack
  offset follows from the token counts and fits the sequence budget.
* dedup-ingest: the generator's planted truth. Planted exact copies and
  signatures within Hamming 7 must drop, fresh rows must survive; near
  text copies only feed `index.recall`.
"""
import json
import math

import duckdb

import pigmix


def read_lines(path):
    try:
        with open(path) as f:
            return [json.loads(x) for x in f if x.strip()]
    except FileNotFoundError:
        return []


def canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    return repr(v)


def rowset(rows):
    return sorted("|".join(canon(x) for x in r) for r in rows)


def check_pig(records, tables_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ["nation", "supplier", "part", "customer", "orders",
              "lineitem", "events"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{tables_dir}/{t}.parquet'")
    cache, failed, notes = {}, set(), []
    for rec in records:
        key = (rec["script"], tuple(sorted(rec["params"].items())))
        if key not in cache:
            sql = pigmix.substitute(pigmix.SCRIPTS[rec["script"]]["sql"],
                                    rec["params"])
            cache[key] = rowset(con.sql(sql).fetchall())
        exp = cache[key]
        got = rowset(rec["rows"])
        if got != exp or rec["count"] != len(exp):
            failed.add(rec["op"])
            if len(notes) < 5:
                notes.append(f"op {rec['op']} {rec['script']} "
                             f"{rec['params']}: count {rec['count']} rows "
                             f"{len(got)} vs oracle {len(exp)}; "
                             f"engine-only {[x for x in got if x not in exp][:2]}"
                             f" oracle-only {[x for x in exp if x not in got][:2]}")
    con.close()
    return failed, notes, {}


def check_curation(records, truth, seq_tokens):
    failed, notes = set(), []
    if not records:
        return failed, ["no pass completed"], {}
    last = records[-1]
    for rec in records:
        chain = [truth["records"]] + rec["counts"]
        if any(b > a for a, b in zip(chain, chain[1:])) or \
                rec["counts"] != last["counts"]:
            failed.add(rec["op"])
            notes.append(f"op {rec['op']} counts {chain}")
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    dirs = dict(zip(last["stages"], last["dirs"]))
    bad = []
    for stage, d in dirs.items():
        n = con.sql(f"SELECT count(*) FROM '{d}/*.parquet'").fetchone()[0]
        if n != last["counts"][last["stages"].index(stage)]:
            bad.append(f"{stage}: DuckDB counts {n} rows")
    con.execute("CREATE TABLE grp (g BIGINT, doc_id BIGINT)")
    rows = [(k, d) for k, grp in enumerate(truth["exact_groups"]) for d in grp]
    if rows:
        con.executemany("INSERT INTO grp VALUES (?, ?)", rows)
    for stage in ("dedup", "lm", "shuffle", "pack"):
        dup = con.sql(f"""SELECT count(*) FROM (SELECT g FROM grp JOIN
            '{dirs[stage]}/*.parquet' USING (doc_id) GROUP BY g
            HAVING count(*) > 1)""").fetchone()[0]
        if dup:
            bad.append(f"{stage}: {dup} planted exact-duplicate groups "
                       "kept more than one page")
    s = int(seq_tokens)
    wrong = con.sql(f"""SELECT count(*) FROM (
        SELECT pack_id, pack_offset, n_tokens,
          coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
        FROM '{dirs['pack']}/*.parquet')
        WHERE n_tokens < 0 OR pack_offset < 0 OR pack_offset >= {s}
           OR pack_id != start // {s} OR pack_offset != start % {s}
        """).fetchone()[0]
    if wrong:
        bad.append(f"pack: {wrong} documents outside their sequence budget")
    con.close()
    if bad:
        # the last pass is the one DuckDB read; every pass matched its
        # counts, so a content defect is charged to the last pass
        failed.add(last["op"])
        notes.extend(bad)
    return failed, notes, {}


def check_dedup(records, truth):
    failed, notes = set(), []
    planted = dropped_planted = rows = dropped = 0
    for rec in records:
        t = truth[rec["batch"]]
        surv = set(rec["survivors"])
        kept_dups = [i for i in t["must_drop"] if i in surv]
        lost = [i for i in t["must_keep"] if i not in surv]
        if kept_dups or lost:
            failed.add(rec["op"])
            if len(notes) < 5:
                notes.append(f"op {rec['op']} ({t['kind']}): "
                             f"{len(kept_dups)} planted duplicates kept "
                             f"{kept_dups[:3]}, {len(lost)} fresh rows "
                             f"dropped {lost[:3]}")
        p = t["must_drop"] + t["may_drop"]
        planted += len(p)
        dropped_planted += sum(1 for i in p if i not in surv)
        rows += t["rows"]
        dropped += t["rows"] - len(surv)
    extra = {"index.recall": dropped_planted / planted if planted else 0.0,
             "index.drop_ratio": dropped / rows if rows else 0.0}
    return failed, notes, extra
