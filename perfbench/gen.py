"""Seeded input generators for the three workloads.

Every table and every op parameter is a pure function of (workload, seed):
the same seed writes the same parquet bytes and the same op list. The
program under test only ever sees these files and the op list.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error", "search"])
ORDER_STATUS = np.array(["O", "F", "P"])
STOPWORDS = "the a of and to in is it that was for on with as at by this be are or".split()

# Workload sizes. serve_small is sf0.1-shaped (100k events, 150k orders);
# train_pit_large and corpus_prep are sized so a run, warm-up included,
# stays under a minute (see README.md, "Which workloads are gated").
# One serve_small block is 8 ops: 6 reads to 2 writes. Probes (the online
# read) are the commonest op; the block's fast ops (probe, pull) are a clear
# majority, so the median op falls inside one latency cluster, not between
# the fast and the slow one.
SERVE = dict(users=5_000, events=100_000, orders=150_000, days=31,
             seed_days=20, windows=24, blocks=60, warmup=2, entity_pool=20,
             entity_rows=3000, probe_keys=100,
             block=("probe",) * 3 + ("pull",) * 2 + ("pit",) + ("upsert",) * 2)
TRAIN = dict(users=40_000, events=400_000, event_files=8, orders=100_000,
             corrections=40_000, entity=200_000, days=60, zipf_s=0.8, ops=40, warmup=3)
CORPUS = dict(base_docs=500, copies=3, neardup_frac=0.05, vocab=4000, zipf_s=0.9,
              files=8, ops=40, warmup=3)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us", tz="UTC"))


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _events(rng, n, keys, days):
    ts = np.sort(T0_US + rng.integers(0, days * DAY_US, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": keys.astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.uniform(0, 500, n), 2),
    })


def _orders(rng, n, users, days):
    return pa.table({
        "o_orderkey": rng.permutation(n).astype(np.int64),
        "o_custkey": rng.integers(0, users, n).astype(np.int64),
        "o_totalprice": np.round(rng.uniform(10, 50_000, n), 2),
        "o_orderstatus": ORDER_STATUS[rng.integers(0, 3, n)],
        "o_orderdate": _ts(T0_US + rng.integers(0, days * DAY_US, n)),
    })


def _entity(rng, n, users, days):
    return pa.table({
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_timestamp": _ts(T0_US + rng.integers(0, days * DAY_US, n)),
    })


def gen_serve_small(rng, d):
    c = SERVE
    ev = _events(rng, c["events"], rng.integers(0, c["users"], c["events"]), c["days"])
    _write(ev, f"{d}/events.parquet")
    ev_ts = ev.column("ts").cast(pa.int64()).to_numpy()
    _write(_orders(rng, c["orders"], c["users"], c["days"]), f"{d}/orders.parquet")
    for i in range(c["entity_pool"]):
        _write(_entity(rng, c["entity_rows"], c["users"], c["days"]), f"{d}/entity/e{i:03d}.parquet")
    # the store is seeded with days [0, seed_days); upserts replay windows
    # cut from the remaining days, ~1.5% of events each, out of order
    lo0 = T0_US + c["seed_days"] * DAY_US
    edges = np.linspace(lo0, T0_US + c["days"] * DAY_US, c["windows"] + 1).astype(np.int64)
    windows = [(int(edges[i]), int(edges[i + 1]) - 1) for i in range(c["windows"])]
    order = list(rng.permutation(len(windows)))
    ops, used, pit_i = [], [], 0
    for b in range(c["blocks"]):
        for kind in rng.permutation(list(c["block"])):
            op = {"id": len(ops), "block": b, "kind": str(kind), "warmup": b < c["warmup"]}
            if kind == "pit":
                op["entity"] = f"entity/e{pit_i % c['entity_pool']:03d}.parquet"
                pit_i += 1
            elif kind == "pull":
                span = int(rng.integers(1, 11)) * DAY_US
                lo = T0_US + int(rng.integers(0, c["days"] * DAY_US - span))
                op["lo"], op["hi"] = lo, lo + span
            elif kind == "probe":
                keys = rng.choice(c["users"] + 20, c["probe_keys"], replace=False)
                op["keys"] = sorted(int(k) for k in keys)
            else:
                replay = used and (not order or rng.random() < 0.25)
                w = used[int(rng.integers(0, len(used)))] if replay else int(order.pop())
                used.append(w)
                op["lo"], op["hi"] = windows[w]
                op["replay"] = bool(replay)
                op["batch_rows"] = int(np.searchsorted(ev_ts, op["hi"], "right")
                                       - np.searchsorted(ev_ts, op["lo"], "left"))
            ops.append(op)
    # store columns = event columns, so this is the compact size of a row
    bytes_per_event = os.path.getsize(f"{d}/events.parquet") / c["events"]
    return {"seed_window": [T0_US, lo0 - 1], "ops": ops, "bytes_per_event": bytes_per_event,
            "rows": {"events": c["events"], "orders": c["orders"]}}


def _zipf_keys(rng, n, users, s):
    p = np.arange(1, users + 1, dtype=np.float64) ** -s
    ranks = rng.choice(users, n, p=p / p.sum())
    return rng.permutation(users)[ranks]


def gen_train_pit_large(rng, d):
    c = TRAIN
    keys = _zipf_keys(rng, c["events"], c["users"], c["zipf_s"])
    ev = _events(rng, c["events"], keys, c["days"])
    # several files, rows in key-random order within each, like a landed log
    for i, part in enumerate(np.array_split(rng.permutation(ev.num_rows), c["event_files"])):
        _write(ev.take(np.sort(part)), f"{d}/events/part-{i:02d}.parquet")
    _write(_orders(rng, c["orders"], c["users"], c["days"]), f"{d}/orders/part-00.parquet")
    # corrections: every base row lands twice at the same event ts, the
    # second copy created later with another score, so created-ts dedup binds
    n = c["corrections"]
    base_ts = T0_US + rng.integers(0, c["days"] * DAY_US, n)
    late = base_ts + rng.integers(1, DAY_US, n)
    corr = pa.table({
        "corr_id": np.arange(2 * n, dtype=np.int64),
        "user_id": np.tile(rng.integers(0, c["users"], n), 2).astype(np.int64),
        "ts": _ts(np.tile(base_ts, 2)),
        "created_ts": _ts(np.concatenate([base_ts, late])),
        "score": np.round(rng.uniform(-1, 1, 2 * n), 4),
    })
    _write(corr, f"{d}/corrections/part-00.parquet")
    _write(_entity(rng, c["entity"], c["users"], c["days"]), f"{d}/entity/part-00.parquet")
    ops = [{"id": i, "block": i, "kind": "train", "warmup": i < c["warmup"]}
           for i in range(c["ops"])]
    return {"ops": ops, "rows": {"events": c["events"], "orders": c["orders"],
                                 "corrections": 2 * n, "entity": c["entity"]}}


def _vocab(rng, n):
    """Stopwords first (the Gopher gate needs them), then pronounceable
    synthetic words of 2-4 syllables."""
    syl = [a + b for a in "bcdfghklmnprstvz" for b in "aeiou"]
    words = dict.fromkeys(STOPWORDS)
    while len(words) < n:
        words["".join(rng.choice(syl, int(rng.integers(2, 5))))] = None
    return np.array(list(words))


def gen_corpus_prep(rng, d):
    c = CORPUS
    vocab = _vocab(rng, c["vocab"])
    p = np.arange(1, len(vocab) + 1, dtype=np.float64) ** -c["zipf_s"]
    p /= p.sum()
    base = [vocab[rng.choice(len(vocab), int(rng.integers(10, 101)), p=p)]
            for _ in range(c["base_docs"])]
    texts = []
    # per-copy divergence as in graft.Amplify: a copy prefix token, and every
    # 5th token (offset by the copy) suffixed, so copies are not near-dups
    for cp in range(c["copies"]):
        for toks in base:
            if cp == 0:
                texts.append(" ".join(toks))
            else:
                t = [w + f"x{cp}" if i % 5 == cp % 5 else w for i, w in enumerate(toks)]
                texts.append(f"c{cp} " + " ".join(t))
    # planted near-duplicates of docs with 50+ tokens: one token in 50
    # replaced, shingle Jaccard >= 0.88, which MinHash at 0.8 merges
    long_docs = [i for i, t in enumerate(texts) if t.count(" ") >= 49]
    for src in rng.choice(long_docs, int(len(texts) * c["neardup_frac"]), replace=False):
        toks = texts[src].split(" ")
        for j in rng.choice(len(toks), len(toks) // 50, replace=False):
            toks[j] = str(vocab[rng.choice(len(vocab), p=p)])
        texts.append(" ".join(toks))
    n = len(texts)
    docs = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, n)],
        "source": np.array([f"src{i}" for i in range(20)])[rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    # several files, so the scan (and every narrow text stage) has parallelism
    for i, part in enumerate(np.array_split(np.arange(n), c["files"])):
        _write(docs.take(part), f"{d}/documents/part-{i:02d}.parquet")
    ops = [{"id": i, "block": i, "kind": "corpus", "warmup": i < c["warmup"]}
           for i in range(c["ops"])]
    return {"ops": ops, "rows": {"documents": n}}


GENERATORS = {"serve_small": gen_serve_small,
              "train_pit_large": gen_train_pit_large,
              "corpus_prep": gen_corpus_prep}


def generate(workload, seed, d):
    """Writes the workload's tables under `d`; returns the op plan."""
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    plan = GENERATORS[workload](rng, d)
    with open(f"{d}/plan.json", "w") as f:
        json.dump(plan, f)
    return plan
