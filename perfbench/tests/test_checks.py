"""The output checks catch the defects they are meant to catch."""

from collections import namedtuple

from perfbench.workloads import check_w1, check_w2

W1 = namedtuple("W1", "query_id vectorizer neighbor_id sim rn")
W2 = namedtuple("W2", "user_id rec_rank rec_item_id rating")


def w1_rows(q=1):
    rows = []
    for vec in ("tfidf", "cv"):
        sims = [0.9, 0.8, 0.8, 0.5, 0.1]
        ids = [7, 9, 3, None, 2]
        rows += [W1(q, vec, i, s, r + 1) for r, (i, s) in enumerate(zip(ids, sims))]
    return rows


def test_w1_accepts_valid_output():
    assert check_w1(w1_rows(), [1], n_docs=100) == []


def test_w1_rejects_query_user_wrong_order_and_short_lists():
    rows = w1_rows()
    rows[0] = rows[0]._replace(neighbor_id=1)
    assert any("query user" in p for p in check_w1(rows, [1], 100))
    rows = w1_rows()
    rows[1], rows[2] = rows[1]._replace(neighbor_id=3), rows[2]._replace(neighbor_id=9)
    assert any("order" in p for p in check_w1(rows, [1], 100))
    assert any("rows" in p for p in check_w1(w1_rows()[:-1], [1], 100))
    # a corpus of 4 documents gives 3 neighbours
    short = [r for r in w1_rows() if r.rn <= 3]
    assert check_w1(short, [1], n_docs=4) == []


def w2_rows():
    pairs = {(1, 10), (1, 11), (2, 12), (2, 13), (3, 14), (3, 10)}
    rows = []
    for u in (1, 2, 3):
        for rank, item in enumerate((10, 11, 12, 13, 14), start=1):
            rows.append(W2(u, rank, item, 1.0 - rank / 10))
    return rows, pairs


def test_w2_accepts_valid_output():
    rows, pairs = w2_rows()
    assert check_w2(rows, pairs) == []


def test_w2_rejects_missing_users_unknown_items_and_rising_ratings():
    rows, pairs = w2_rows()
    assert check_w2([r for r in rows if r.user_id != 3], pairs)
    bad = [r._replace(rec_item_id=99) if r.rec_rank == 2 else r for r in rows]
    assert any("unknown item" in p for p in check_w2(bad, pairs))
    bad = [r._replace(rating=5.0) if r.rec_rank == 3 else r for r in rows]
    assert any("ratings increase" in p for p in check_w2(bad, pairs))
    assert check_w2([r for r in rows if r.rec_rank <= 4], pairs)
