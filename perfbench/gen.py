"""Seeded input generators for the benchmark.

Every generator is a pure function of its arguments: the same seed gives
byte-identical files, a different seed different ones.

- ``write_tables``: the ten parquet tables the declared queries read
  (``region`` ... ``embeddings``), in the column layout the engine's
  ``sources.Tables`` expects. The benchmark always builds them with seed
  42, so on the parquet workloads the run seed only orders the queries.
- ``write_corpus``: a Zipf-distributed text corpus for the MapReduce jobs,
  plus the exact word counts it contains.
- ``write_events``: the event sequence the open-loop stream generator
  sends, with about 5% re-sent ids.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES_SEED = 42
TABLES_VERSION = "v1"

DOC_WORDS = ("key agg row scan slow fast table value part hash a the line sort "
             "window batch spark order data column join small customer query "
             "merge shuffle stage task map reduce").split()
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _days(rng, start, n_days, size):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def write_tables(out_dir, sf, seed=TABLES_SEED):
    """Write the ten tables at scale factor ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_ev = max(1, int(1_000_000 * sf))
    n_users = max(1, int(15_000 * sf))
    n_docs = max(1, int(50_000 * sf))

    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }), f"{out_dir}/nation.parquet")

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)]),
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    }), f"{out_dir}/supplier.parquet")

    adj = np.array(["small", "large", "red", "blue", "green", "steel", "brass", "tiny"])
    noun = np.array(["ring", "widget", "bolt", "gear", "plate", "valve", "spring", "nut"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    partkeys = np.arange(n_part, dtype=np.int64)
    retail = np.round(900.0 + (partkeys % 1000) / 10.0, 2)
    _write(pa.table({
        "p_partkey": pa.array(partkeys),
        "p_name": pa.array(np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                                       noun[rng.integers(0, 8, n_part)])),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pa.array(types[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(retail),
    }), f"{out_dir}/part.parquet")

    odate = _days(rng, "1995-01-01", 2399, n_ord)
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(odate),
        "o_orderpriority": pa.array(prios[rng.integers(0, 5, n_ord)]),
    }), f"{out_dir}/orders.parquet")

    lines_per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    n_li = len(okey)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(lines_per) - lines_per, lines_per) + 1)
    pkey = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(odate, lines_per) + rng.integers(1, 122, n_li).astype("timedelta64[D]").astype("timedelta64[us]")
    _write(pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(pkey),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(lnum.astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * retail[pkey] * rng.uniform(0.95, 1.05, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(ship),
    }), f"{out_dir}/lineitem.parquet")

    ev_ts = np.datetime64("2024-01-01", "us") + rng.integers(
        0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]")
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": pa.array(_money(rng, 0.01, 490.0, n_ev)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), f"{out_dir}/events.parquet")

    words = np.array(DOC_WORDS)
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.1:
            # near-duplicate of an earlier document: one word replaced
            src = texts[rng.integers(0, i)].split(" ")
            src[rng.integers(0, len(src))] = words[rng.integers(0, len(words))]
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(8, 90))]))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, n_docs)]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), f"{out_dir}/documents.parquet")

    emb = rng.normal(size=(n_docs, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_docs).astype(np.int32)),
    }), f"{out_dir}/embeddings.parquet")


def _vocabulary(rng, n):
    """``n`` distinct lowercase words, 2 to 10 letters."""
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    seen, out = set(), []
    while len(out) < n:
        w = letters[rng.integers(0, 26, rng.integers(2, 11))].tobytes().decode()
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def write_corpus(out_dir, seed, megabytes, files=4, vocab=50_000, zipf_s=1.1,
                 words_per_line=12):
    """Write a Zipf text corpus of about ``megabytes`` MB as ``files``
    text files under ``out_dir/text`` and its exact word counts as
    ``out_dir/counts.tsv`` (``word<TAB>count``, sorted by word).

    Returns ``(text_dir, total_bytes, total_words)``."""
    rng = np.random.default_rng(seed)
    words = _vocabulary(rng, vocab)
    p = 1.0 / np.arange(1, vocab + 1) ** zipf_s
    p /= p.sum()
    perm = rng.permutation(vocab)  # the rank -> word map depends on the seed too
    mean_len = sum(len(words[perm[r]]) * p[r] for r in range(vocab)) + 1
    n_words = int(megabytes * 1_000_000 / mean_len)
    n_words -= n_words % words_per_line
    ranks = rng.choice(vocab, size=n_words, p=p)
    idx = perm[ranks]
    text_dir = os.path.join(out_dir, "text")
    os.makedirs(text_dir, exist_ok=True)
    total = 0
    for f, chunk in enumerate(np.array_split(idx.reshape(-1, words_per_line), files)):
        with open(os.path.join(text_dir, f"part-{f:05d}.txt"), "w") as fh:
            for row in chunk:
                line = " ".join(words[i] for i in row) + "\n"
                total += len(line)
                fh.write(line)
    counts = np.bincount(idx, minlength=vocab)
    with open(os.path.join(out_dir, "counts.tsv"), "w") as fh:
        for w, c in sorted((words[i], int(counts[i])) for i in range(vocab) if counts[i]):
            fh.write(f"{w}\t{c}\n")
    return text_dir, total, n_words


EVENT_DTYPE = np.dtype([("event_id", ">i8"), ("ts_us", ">i8"), ("user_id", ">i8"),
                        ("event_type", ">i4"), ("props_k", ">i4"), ("value", ">f8")])


def write_events(path, seed, n_sends, resend_frac=0.05, resend_window=2_000,
                 n_users=1_500):
    """Write the ``n_sends`` events the stream generator sends, in send
    order, as big-endian fixed-width records (``EVENT_DTYPE``).

    About ``resend_frac`` of the sends repeat an id sent at most
    ``resend_window`` sends earlier, with identical fields. Event time
    advances about 1 ms per fresh event, so a re-send is always inside
    the dedup watermark. Returns the number of distinct ids."""
    rng = np.random.default_rng(seed)
    resend = rng.random(n_sends) < resend_frac
    resend[0] = False
    fresh = ~resend
    n_fresh = int(fresh.sum())
    recs = np.zeros(n_sends, dtype=EVENT_DTYPE)
    src = np.empty(n_sends, dtype=np.int64)
    src[fresh] = np.arange(n_fresh)
    fresh_pos = np.flatnonzero(fresh)
    ids = np.arange(n_fresh, dtype=np.int64)
    base_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    ts = base_us + ids * 1_000 + rng.integers(0, 500, n_fresh)
    users = rng.integers(0, n_users, n_fresh)
    etype = rng.integers(0, len(EVENT_TYPES), n_fresh)
    props = rng.integers(0, 100, n_fresh)
    value = np.round(rng.uniform(0.01, 490.0, n_fresh), 2)
    # a re-send copies one of the fresh events sent shortly before it
    fresh_before = np.cumsum(fresh) - 1
    for i in np.flatnonzero(resend):
        hi = fresh_before[i]
        src[i] = rng.integers(max(0, hi - resend_window), hi + 1)
    recs["event_id"] = ids[src]
    recs["ts_us"] = ts[src]
    recs["user_id"] = users[src]
    recs["event_type"] = etype[src]
    recs["props_k"] = props[src]
    recs["value"] = value[src]
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    recs.tofile(path)
    assert len(fresh_pos) == n_fresh
    return n_fresh


def sample_queries(seed, candidates, n):
    """The median query of each of ``n`` equal strata of ``candidates``
    (listed in ascending cost), in a seeded order. The set is the same for
    every seed, so runs on different seeds do the same work; the seed
    picks the order."""
    strata = np.array_split(np.arange(len(candidates)), n)
    return shuffled(seed, [candidates[int(s[len(s) // 2])] for s in strata])


def shuffled(seed, names):
    rng = np.random.default_rng(seed)
    return [names[i] for i in rng.permutation(len(names))]


if __name__ == "__main__":
    import sys
    write_tables(sys.argv[1], float(sys.argv[2]))
    print(json.dumps({"tables": sys.argv[1]}))
