"""Output checks: every op's output against a DuckDB twin over the same
generated parquet. Returns, per executed op (by seq), whether it passed and
how many rows it produced.

Results are compared as an order-free fingerprint: the row count and the
sum of per-row hashes, computed by DuckDB with the same projection on both
sides (integers as BIGINT, floats as DOUBLE, timestamps as epoch µs).
"""
import glob
import json
import os
import re
import struct

import duckdb
import pyarrow as pa
import pyarrow.ipc

DAY_S = 86_400


def _canon_cols(con, rel, cols):
    types = {r[0]: r[1] for r in con.sql(f"DESCRIBE SELECT * FROM {rel}").fetchall()}
    out = []
    for c in cols:
        t = types[c].upper()
        if "TIMESTAMP" in t:
            out.append(f'epoch_us("{c}")')
        elif any(k in t for k in ("INT", "DECIMAL")):
            out.append(f'CAST("{c}" AS BIGINT)')
        elif any(k in t for k in ("DOUBLE", "FLOAT", "REAL")):
            out.append(f'CAST("{c}" AS DOUBLE)')
        else:
            out.append(f'CAST("{c}" AS VARCHAR)')
    return out


def fingerprint(con, rel, cols):
    """(rows, sum of row hashes) of relation `rel` over columns `cols`."""
    exprs = _canon_cols(con, rel, cols)
    return con.sql(f"SELECT count(*), coalesce(sum(hash({', '.join(exprs)})::HUGEINT), 0) "
                   f"FROM {rel}").fetchone()


def pit_twin(entity_rel, views, ent_ts="event_timestamp", full_names=False):
    """DuckDB replay of FeatureStoreOps.pointInTime: per view, the latest row
    at or before each entity timestamp (within the TTL), ordered by event ts,
    then created ts, then the tie-break column; left-joined onto the entity
    frame. `views` are dicts: name, rel, key, ts, created, tie, ttl_s, features.
    """
    ctes = [f"ent AS (SELECT user_id, {ent_ts} AS t FROM {entity_rel})",
            "ek AS (SELECT DISTINCT user_id, t FROM ent)"]
    sel = ["ent.user_id", f"ent.t AS {ent_ts}"]
    joins = []
    for i, v in enumerate(views):
        order = [f'v."{v["ts"]}" DESC'] + ([f'v."{v["created"]}" DESC'] if v.get("created") else []) \
            + [f'v."{v["tie"]}" DESC']
        ttl = (f' AND v."{v["ts"]}" >= e.t - INTERVAL {v["ttl_s"]} SECOND' if v["ttl_s"] else "")
        feats = ", ".join(f'v."{f}"' for f in v["features"])
        ctes.append(
            f'b{i} AS (SELECT * FROM (SELECT e.user_id, e.t, {feats}, row_number() OVER '
            f'(PARTITION BY e.user_id, e.t ORDER BY {", ".join(order)}) AS rn '
            f'FROM ek e JOIN {v["rel"]} v ON v."{v["key"]}" = e.user_id '
            f'AND v."{v["ts"]}" <= e.t{ttl}) WHERE rn = 1)')
        joins.append(f"LEFT JOIN b{i} ON b{i}.user_id = ent.user_id AND b{i}.t = ent.t")
        sel += [f'b{i}."{f}" AS "{v["name"] + "__" + f if full_names else f}"' for f in v["features"]]
    return f"WITH {', '.join(ctes)} SELECT {', '.join(sel)} FROM ent {' '.join(joins)}"


def _compare(con, spark_rel, twin_rel):
    cols = [r[0] for r in con.sql(f"DESCRIBE SELECT * FROM {twin_rel}").fetchall()]
    got_cols = [r[0] for r in con.sql(f"DESCRIBE SELECT * FROM {spark_rel}").fetchall()]
    if sorted(got_cols) != sorted(cols):
        return False, 0
    a = fingerprint(con, spark_rel, cols)
    return a == fingerprint(con, twin_rel, cols), a[0]


def _read_arrows(path, schema):
    batches, buf = [], open(path, "rb").read()
    pos = 0
    while pos < len(buf):
        (n,) = struct.unpack(">i", buf[pos:pos + 4])
        batches.append(pa.ipc.read_record_batch(pa.py_buffer(buf[pos + 4:pos + 4 + n]), schema))
        pos += 4 + n
    return pa.Table.from_batches(batches, schema)


def _read_jsonl(path, schema):
    rows = [json.loads(line) for line in open(path) if line.strip()]
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    return pa.table([pa.array(list(c), type=f.type) for c, f in zip(cols, schema)], schema=schema)


SERVE_VIEWS = [
    dict(name="events", rel="events", key="user_id", ts="ts", tie="event_id",
         ttl_s=7 * DAY_S, features=["value", "event_type"]),
    dict(name="orders", rel="orders", key="o_custkey", ts="o_orderdate", tie="o_orderkey",
         ttl_s=0, features=["o_totalprice", "o_orderstatus"]),
]
TRAIN_VIEWS = SERVE_VIEWS + [
    dict(name="corrections", rel="corrections", key="user_id", ts="ts", created="created_ts",
         tie="corr_id", ttl_s=30 * DAY_S, features=["score"]),
]
TS = pa.timestamp("us", tz="UTC")
PIT_SCHEMA = pa.schema([("user_id", pa.int64()), ("event_timestamp", TS), ("value", pa.float64()),
                        ("event_type", pa.string()), ("o_totalprice", pa.float64()),
                        ("o_orderstatus", pa.string())])
PULL_SCHEMA = pa.schema([("user_id", pa.int64()), ("value", pa.float64()),
                         ("event_type", pa.string()), ("ts", pa.int64())])
PROBE_SCHEMA = pa.schema([("user_id", pa.int64()), ("ts", pa.int64()), ("event_id", pa.int64()),
                          ("value", pa.float64()), ("event_type", pa.string())])


def _latest(where):
    return ("SELECT user_id, epoch_us(ts) AS ts, event_id, value, event_type FROM ("
            "SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn "
            f"FROM events WHERE {where}) WHERE rn = 1")


def check_serve_small(con, data, out, plan, executed):
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{data}/events.parquet'")
    con.sql(f"CREATE VIEW orders AS SELECT * FROM '{data}/orders.parquet'")
    by_id = {o["id"]: o for o in plan["ops"]}
    windows = [tuple(plan["seed_window"])]
    ok, rows = {}, {}

    def in_windows(ws):
        return "(" + " OR ".join(f"epoch_us(ts) BETWEEN {lo} AND {hi}" for lo, hi in ws) + ")"

    for r in executed:
        op, seq = by_id[r["id"]], r["seq"]
        if r["error"]:
            ok[seq], rows[seq] = False, 0
            continue
        if op["kind"] == "pit":
            con.register("got", _read_arrows(f"{out}/ops/{seq}.arrows", PIT_SCHEMA))
            ent = f"'{data}/{op['entity']}'"
            ok[seq], rows[seq] = _compare(con, "got", f"({pit_twin(ent, SERVE_VIEWS)})")
        elif op["kind"] == "pull":
            con.register("got", _read_jsonl(f"{out}/ops/{seq}.jsonl", PULL_SCHEMA))
            rng = f"epoch_us(ts) BETWEEN {op['lo']} AND {op['hi']}"
            twin = f"(SELECT user_id, value, event_type, ts FROM ({_latest(rng)}))"
            ok[seq], rows[seq] = _compare(con, "got", twin)
        elif op["kind"] == "probe":
            con.register("got", _read_jsonl(f"{out}/ops/{seq}.jsonl", PROBE_SCHEMA))
            keys = ",".join(str(k) for k in op["keys"])
            twin = f"({_latest(in_windows(windows) + f' AND user_id IN ({keys})')})"
            ok[seq], rows[seq] = _compare(con, "got", twin)
        else:
            windows.append((op["lo"], op["hi"]))
            ok[seq], rows[seq] = True, 0
    # the store's final read-back must equal pullLatest over every batch
    # ingested; a mismatch fails every upsert
    readback = f"(SELECT user_id, epoch_us(ts) AS ts, event_id, value, event_type FROM '{out}/readback/*.parquet')"
    store_ok, _ = _compare(con, readback, f"({_latest(in_windows(windows))})")
    for r in executed:
        if by_id[r["id"]]["kind"] == "upsert":
            ok[r["seq"]] = ok[r["seq"]] and store_ok
    return ok, rows, {"store_readback_ok": store_ok}


def check_train_pit_large(con, data, out, plan, executed):
    for t in ("events", "orders", "corrections"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}/*.parquet'")
    con.sql("CREATE TABLE twin AS " + pit_twin(f"'{data}/entity/*.parquet'", TRAIN_VIEWS,
                                                full_names=True))
    per_id = {}
    for d in glob.glob(f"{out}/train/*"):
        per_id[int(os.path.basename(d))] = _compare(con, f"'{d}/*.parquet'", "twin")
    ok = {r["seq"]: not r["error"] and per_id.get(r["id"], (False, 0))[0] for r in executed}
    rows = {r["seq"]: per_id.get(r["id"], (False, 0))[1] for r in executed}
    return ok, rows, {}


ALL_PAIRS_CTE = """ce AS (SELECT a.doc_id AS a, b.doc_id AS b
  FROM csh a JOIN csh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        len(list_distinct(a.sh || b.sh)) >= 0.8),"""
# The same edges: a pair with Jaccard >= 0.8 shares a shingle, so counting
# shared shingles through an inverted index finds exactly the pairs the
# all-pairs compare finds (shingle lists are distinct, so |a & b| = shared
# and |a | b| = |a| + |b| - shared).
INDEXED_PAIRS_CTE = """ce AS (SELECT p.a, p.b FROM (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS shared
  FROM (SELECT doc_id, unnest(sh) AS s FROM csh) x
  JOIN (SELECT doc_id, unnest(sh) AS s FROM csh) y ON x.s = y.s AND x.doc_id < y.doc_id
  GROUP BY 1, 2) p
  JOIN csh ca ON ca.doc_id = p.a JOIN csh cb ON cb.doc_id = p.b
  WHERE CAST(p.shared AS DOUBLE) / (len(ca.sh) + len(cb.sh) - p.shared) >= 0.8),"""
CTE_START = re.compile(r"(?m)^(\w+)(\([^)]*\))? AS \(")


def run_staged(con, sql, name):
    """Runs a `WITH [RECURSIVE] a AS (...), b AS (...) SELECT ...` query
    one CTE at a time, each into a temp table, then the final SELECT into
    table `name`. Same result; DuckDB otherwise re-evaluates a CTE at every
    reference, which costs minutes on this oracle's many-times-referenced
    chain."""
    starts = list(CTE_START.finditer(sql))
    final = sql.rindex("\nSELECT ")
    for k, m in enumerate(starts):
        end = starts[k + 1].start() if k + 1 < len(starts) else final
        body = sql[m.start():end].rstrip().rstrip(",")
        rec = "RECURSIVE " if m.group(2) else ""
        con.sql(f"CREATE TEMP TABLE {m.group(1)} AS WITH {rec}{body} SELECT * FROM {m.group(1)}")
    con.sql(f"CREATE TEMP TABLE {name} AS {sql[final:]}")


def check_corpus_prep(con, data, out, plan, executed, work):
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{data}/documents/*.parquet'")
    sql = json.load(open(f"{work}/oracle.json"))
    # pipeline_crawl_full's oracle compares all O(n^2) doc pairs, which takes
    # minutes past ~3k docs; swap in the indexed form of the same CTE
    if ALL_PAIRS_CTE not in sql["crawl"]:
        raise RuntimeError("pipeline_crawl_full oracle changed: near-dup edge CTE not found")
    run_staged(con, sql["crawl"].replace(ALL_PAIRS_CTE, INDEXED_PAIRS_CTE), "crawl_twin")
    con.sql("CREATE TEMP TABLE bpe_twin AS " + sql["bpe"])
    per_id = {}
    for d in glob.glob(f"{out}/crawl/*"):
        i = int(os.path.basename(d))
        a, na = _compare(con, f"'{d}/*.parquet'", "crawl_twin")
        b, nb = _compare(con, f"'{out}/bpe/{i}/*.parquet'", "bpe_twin") \
            if os.path.isdir(f"{out}/bpe/{i}") else (False, 0)
        per_id[i] = (a and b, na + nb)
    ok = {r["seq"]: not r["error"] and per_id.get(r["id"], (False, 0))[0] for r in executed}
    rows = {r["seq"]: per_id.get(r["id"], (False, 0))[1] for r in executed}
    return ok, rows, {}


def check(workload, data, work, plan, executed):
    con = duckdb.connect()
    con.sql(f"SET temp_directory = '{work}/duckdb-tmp'")
    con.sql("SET threads = 4")
    out = f"{work}/out"
    if workload == "corpus_prep":
        return check_corpus_prep(con, data, out, plan, executed, work)
    return {"serve_small": check_serve_small,
            "train_pit_large": check_train_pit_large}[workload](con, data, out, plan, executed)
