"""Generator determinism and field mix."""

import hashlib
import os

from perfbench import gen


def _digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_tweets_same_seed_same_bytes(tmp_path):
    a, b, c = (str(tmp_path / n) for n in ("a", "b", "c"))
    gen.write_jsonl(gen.tweets_rows(3, 2000, 200, 200), a)
    gen.write_jsonl(gen.tweets_rows(3, 2000, 200, 200), b)
    gen.write_jsonl(gen.tweets_rows(4, 2000, 200, 200), c)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_tweets_field_mix():
    rows = gen.tweets_rows(5, 20000, 500, 500)
    n = len(rows)
    null_users = sum(r["user_id"] is None for r in rows) / n
    assert 0.01 < null_users < 0.03
    assert not any(r["replyto_id"] is not None and r["retweet_id"] is not None for r in rows)
    neither = sum(r["replyto_id"] is None and r["retweet_id"] is None for r in rows) / n
    assert 0.25 < neither < 0.35
    assert any(r["user_mentions"] is None for r in rows)
    assert any(r["user_mentions"] == [] for r in rows)
    assert len({r["id"] for r in rows}) == n
    # Zipf: the hottest mention target is far above the mean
    counts = {}
    for r in rows:
        for m in r["user_mentions"] or ():
            counts[m["id"]] = counts.get(m["id"], 0) + 1
    assert max(counts.values()) > 10 * sum(counts.values()) / len(counts)


def test_events_and_tables_same_seed_same_bytes(tmp_path):
    dirs = [str(tmp_path / n) for n in ("a", "b", "c")]
    for d, seed in zip(dirs, (1, 1, 2)):
        os.makedirs(d)
        gen.events_table(seed, 500, 20, d)
        gen.warehouse_tables(seed, os.path.join(d, "sf"))
    for name in ("events.parquet", "sf/lineitem.parquet", "sf/documents.parquet",
                 "sf/embeddings.parquet"):
        a, b, c = (_digest(os.path.join(d, name)) for d in dirs)
        assert a == b, name
        assert a != c, name


def test_events_follow_events_schema(tmp_path):
    import pyarrow.parquet as pq

    gen.events_table(1, 100, 10, str(tmp_path))
    schema = pq.read_schema(str(tmp_path / "events.parquet"))
    assert [(f.name, str(f.type)) for f in schema] == [
        ("event_id", "int64"), ("ts", "timestamp[us]"), ("user_id", "int64"),
        ("event_type", "string"), ("value", "double"), ("props", "string")]
