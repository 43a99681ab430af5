"""Seeded, single-process input generators.

Every generator takes a seed and returns (or writes) the same bytes for the
same seed. numpy's PCG64 stream is stable across platforms for a given numpy
version, which the result record pins through the host record.

- ``tweets_jsonl``: tweets with the field mix of FIXTURES.md §B — about 2 %
  null ``user_id``; a reply, a retweet or neither (never both); Zipf-skewed
  interaction targets and mentions.
- ``events_table``: the ``events`` schema that the stream replay reads
  (``EVENTS_SCHEMA``), written as parquet with TIMESTAMP(MICROS).
- ``warehouse_tables``: the ten FIXTURES.md §A tables at a small fixed
  scale, with the value domains of the reference fixture, for the registry
  entries and their DuckDB oracle.
"""

from __future__ import annotations

import json
import os

import numpy as np

BASE_TWEET_ID = 1_000_000_000_000
BASE_USER_ID = 20_000_000
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _zipf_p(n: int, s: float = 1.0) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def tweets_rows(seed: int, n_tweets: int, n_users: int, n_targets: int) -> list[dict]:
    """Tweet dicts in id order. Authors, interaction targets and mentions are
    Zipf-skewed, so a few users and target tweets are hot."""
    rng = np.random.default_rng(seed)
    # Zipf ranks are shuffled over ids so the hot users are not the lowest ids.
    users = BASE_USER_ID + rng.permutation(n_users)
    targets = BASE_TWEET_ID + 500_000_000 + rng.permutation(n_targets)
    author = users[rng.choice(n_users, n_tweets, p=_zipf_p(n_users, 0.8))].tolist()
    null_author = (rng.random(n_tweets) < 0.02).tolist()
    kind = rng.random(n_tweets).tolist()  # < .35 reply, < .70 retweet, else neither
    target = targets[rng.choice(n_targets, n_tweets, p=_zipf_p(n_targets))].tolist()
    n_mentions = rng.choice(6, n_tweets, p=[0.08, 0.12, 0.40, 0.25, 0.10, 0.05]) - 1
    mention_p = _zipf_p(n_users)
    words = ("spark catalyst shuffle broadcast window partition codegen arrow "
             "parquet stream state watermark join agg scan sink").split()
    mentioned = users[rng.choice(n_users, int(n_mentions.clip(0).sum()), p=mention_p)].tolist()
    n_words = rng.integers(3, 13, n_tweets)
    word_ix = rng.integers(0, len(words), int(n_words.sum())).tolist()
    rows, m_at, w_at = [], 0, 0
    for i in range(n_tweets):
        k = int(n_mentions[i])
        mentions = None
        if k >= 0:
            mentions = [{"id": u, "indices": [3 * j, 3 * j + 2]}
                        for j, u in enumerate(mentioned[m_at:m_at + k])]
            m_at += k
        text = " ".join(words[j] for j in word_ix[w_at:w_at + n_words[i]])
        w_at += n_words[i]
        rows.append({
            "id": BASE_TWEET_ID + i,
            "user_id": None if null_author[i] else author[i],
            "replyto_id": target[i] if kind[i] < 0.35 else None,
            "retweet_id": target[i] if 0.35 <= kind[i] < 0.70 else None,
            "text": text,
            "user_mentions": mentions,
        })
    return rows


def write_jsonl(rows: list[dict], path: str) -> int:
    """Write rows as JSON lines (sorted keys); return the file size."""
    data = "".join(json.dumps(r, sort_keys=True) + "\n" for r in rows).encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def events_frame(seed: int, n_events: int, n_users: int):
    """``events`` rows as a pandas frame, event time spread over three days."""
    import pandas as pd

    rng = np.random.default_rng(seed)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 3 * 86_400_000_000, n_events))
    return pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.choice(n_users, n_events, p=_zipf_p(n_users, 0.7)).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n_events)],
        "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })


def _write_parquet(pdf, schema, path: str) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), path)
    return os.path.getsize(path)


def events_table(seed: int, n_events: int, n_users: int, out_dir: str) -> int:
    """Write ``events.parquet`` into ``out_dir``; return its size in bytes."""
    import pyarrow as pa

    schema = pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
        ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string()),
    ])
    return _write_parquet(events_frame(seed, n_events, n_users), schema,
                          os.path.join(out_dir, "events.parquet"))


def warehouse_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write the ten FIXTURES.md §A tables at the row counts of the
    reference sf0.001 set (lineitem 6,000 rows). Returns ``{table: rows}``."""
    import pandas as pd
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord, n_li, n_docs = 150, 10, 200, 1500, 6000, 500
    day = np.timedelta64(1, "D")
    d0 = np.datetime64("1995-01-01", "us")
    adj = "blue cold hot large new old red small".split()
    noun = "anvil bolt gear gizmo plate ring rod widget".split()
    vocab = ("scan column window order sort part agg value line key join merge group "
             "query a vector hash slow stream filter fast the batch spark table small "
             "data big customer row").split()
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"])[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.1, 2)})
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": d0 + rng.integers(0, 2400, n_ord) * day,
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)]})
    l_order = np.sort(rng.integers(0, n_ord, n_li))
    linenumber = np.ones(n_li, dtype=np.int32)
    for i in range(1, n_li):
        if l_order[i] == l_order[i - 1]:
            linenumber[i] = linenumber[i - 1] + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": l_order.astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": d0 + rng.integers(1, 2500, n_li) * day})
    texts = []
    for _ in range(n_docs):
        words = [vocab[j] for j in rng.integers(0, len(vocab), rng.integers(8, 90))]
        texts.append(" ".join(words))
    for i in range(0, n_docs, 17):  # near-duplicates for the dedup entries
        texts[i] = texts[max(i - 1, 0)] + " dup"
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64), "text": texts,
        "lang": np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, n_docs)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    emb = rng.standard_normal((n_docs, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_docs, dtype=np.int64), "embedding": list(emb),
        "label": rng.integers(0, 10, n_docs).astype(np.int32)})
    t["events"] = events_frame(seed, 1000, 15)

    os.makedirs(out_dir, exist_ok=True)
    for name, pdf in t.items():
        schema = pa.Schema.from_pandas(pdf, preserve_index=False)
        if name == "embeddings":
            schema = schema.set(1, pa.field("embedding", pa.list_(pa.float32())))
        _write_parquet(pdf, schema, os.path.join(out_dir, f"{name}.parquet"))
    return {name: len(pdf) for name, pdf in t.items()}
