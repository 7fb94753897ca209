"""Seeded input generators for the three perfbench workloads.

Every generator takes a numpy Generator built from the run's --seed, so the
same seed always yields byte-identical inputs. The shapes follow the repo's
fixture contracts:

- tables(): the ten star-schema/event/text/vector tables that
  ``SparkEntry.queries`` read (FIXTURES.md section B), at a given scale
  factor, with the same column names, parquet types and value domains;
- records(): Kinesis-shaped CDC envelopes (KinesisShapedSource.schema) with
  the README payload ``{"key": n, "commitTimestamp": "..."}``;
- documents(): the ``documents`` text corpus alone, with ~5% near-duplicate
  rows (a copy of an earlier document plus one extra token).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _days(start, end):
    return (np.datetime64(start) - np.datetime64("1970-01-01")).astype(int), \
        (np.datetime64(end) - np.datetime64("1970-01-01")).astype(int)


def _day_ts(rng, n, start, end):
    lo, hi = _days(start, end)
    us = rng.integers(lo, hi + 1, n).astype(np.int64) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values, n, p=None):
    return pc.take(pa.array(values, pa.string()), pa.array(rng.choice(len(values), n, p=p)))


def _fmt(prefix, ids, width):
    return pa.array([f"{prefix}{i:0{width}d}" for i in ids], pa.string())


def _doc_texts(rng, n, dup_share=0.05):
    """Random texts of 10-100 vocabulary words; a ``dup_share`` of rows
    copy an earlier row and append " dup" (a verified near-duplicate)."""
    lens = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    texts, at = [], 0
    for ln in lens:
        texts.append(" ".join(words[at:at + ln]))
        at += ln
    n_dup = int(n * dup_share)
    dup_rows = rng.choice(np.arange(1, n), n_dup, replace=False)
    for r in sorted(dup_rows):
        texts[r] = texts[int(rng.integers(0, r))] + " dup"
    return texts


def documents(rng, n):
    texts = _doc_texts(rng, n)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _choice(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def tables(rng, sf):
    """The ten query-surface tables at scale factor ``sf`` (row counts as
    in TESTDATA.md: lineitem ~ 6M x sf)."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs, n_emb = int(15_000 * sf), int(50_000 * sf), max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": _fmt("Customer#", range(n_cust), 9),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _choice(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                      "HOUSEHOLD", "MACHINERY"], n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": _fmt("Supplier#", range(n_supp), 9),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    adjs = ["large", "blue", "small", "red", "hot", "old", "green", "shiny"]
    nouns = ["ring", "anvil", "widget", "plate", "rod", "bolt", "gear", "gizmo"]
    names = [f"{a} {b}" for a in adjs for b in nouns]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": _choice(rng, names, n_part),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _choice(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _day_ts(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _choice(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                         "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _choice(rng, ["F", "O"], n_li),
        "l_shipdate": _day_ts(rng, n_li, "1995-01-02", "2001-11-04")})
    lo = _days("2024-01-01", "2024-01-01")[0] * 86_400_000_000
    ts = np.sort(rng.integers(lo, lo + 30 * 86_400_000_000, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": _choice(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    out["documents"] = documents(rng, n_docs)
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})
    return out


def write_tables(rng, sf, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(rng, sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


STREAMS = [f"kds-stream-{i}" for i in range(8)]
REGION, OTHER_REGION = "us-east-1", "eu-west-1"


def records(rng, n):
    """``n`` CDC envelopes in sequence order, the stream that the region
    config turns off, each row's commit-time string and payload key.
    Sequence numbers grow with the row index, so a stream's
    highest-sequence record is its last row."""
    keys = rng.integers(0, 10**10, n)
    stream_idx = rng.integers(0, len(STREAMS), n)
    base_s = 1_634_000_000 + int(rng.integers(0, 86_400))
    # commit times step 0.05 s per record with up to 30 s of jitter, so the
    # latest commit time of a stream is usually NOT its highest sequence
    commit_s = base_s + np.arange(n) // 20 + rng.integers(0, 30, n)
    arrival_us = (commit_s + rng.integers(0, 3, n)) * 1_000_000
    # format each distinct second once: strftime over every row is slow
    secs, at = np.unique(commit_s, return_inverse=True)
    commit_str = pc.take(pc.strftime(pa.array(secs, pa.timestamp("s")),
                                     format="%Y-%m-%dT%H:%M:%SZ"), pa.array(at))
    data = pc.binary_join_element_wise(
        '{"key": ', pc.cast(pa.array(keys), pa.string()), ', "commitTimestamp": "',
        commit_str, '"}', "")
    seq0 = 49_000_000_000 + int(rng.integers(0, 10**9))
    table = pa.table({
        "data": pc.cast(data, pa.binary()),
        "partitionKey": pc.cast(pa.array(keys % 1000), pa.string()),
        "sequenceNumber": pc.utf8_lpad(pc.cast(pa.array(seq0 + np.arange(n)), pa.string()), 20, "0"),
        "approximateArrivalTimestamp": pa.array(arrival_us, pa.timestamp("us")),
        "streamName": pc.take(pa.array(STREAMS), pa.array(stream_idx)),
    })
    inactive = STREAMS[int(rng.integers(0, len(STREAMS)))]
    return table, inactive, commit_str, keys


def region_config(inactive):
    return pa.table({
        "streamName": pa.array(STREAMS),
        "activeRegion": pa.array([OTHER_REGION if s == inactive else REGION
                                  for s in STREAMS])})
