import pandas as pd

from perfbench import checks


def _events(seqs_by_partition):
    rows = [(p, q) for p, qs in seqs_by_partition.items() for q in qs]
    return pd.DataFrame(rows, columns=["partition_id", "partition_sequence"])


def test_gapless_accepts_dense_sequences():
    ev = _events({0: [0, 1, 2], 1: [1, 0]})
    assert checks.gapless_problems(ev, "partition_id", "partition_sequence") == []


def test_gapless_rejects_a_planted_gap():
    ev = _events({0: [0, 1, 2], 1: [0, 1, 3]})
    problems = checks.gapless_problems(ev, "partition_id", "partition_sequence")
    assert len(problems) == 1 and "partition_id=1" in problems[0]


def test_gapless_rejects_a_sequence_not_starting_at_zero():
    assert checks.gapless_problems(_events({2: [1, 2]}), "partition_id", "partition_sequence")


def test_delivery_accepts_exact_ordered_delivery():
    delivered = [(0, 0), (1, 0), (0, 1), (1, 1)]
    assert checks.delivery_problems(delivered, set(delivered)) == []


def test_delivery_rejects_a_duplicate():
    delivered = [(0, 0), (0, 1), (0, 1)]
    problems = checks.delivery_problems(delivered, {(0, 0), (0, 1)})
    assert any("duplicate" in p for p in problems)


def test_delivery_rejects_out_of_order_missing_and_extra():
    problems = checks.delivery_problems([(0, 1), (0, 0), (5, 0)], {(0, 0), (0, 1), (0, 2)})
    text = " | ".join(problems)
    assert "delivered after" in text
    assert "never delivered" in text
    assert "unexpected" in text


def test_digest_is_order_insensitive_and_rejects_a_wrong_payload():
    rows = [("a", b"x"), ("b", b"yy"), ("a", b"x")]
    d = checks.multiset_digest(rows)
    assert checks.multiset_digest(reversed(rows)) == d
    assert checks.digest_problems(d, checks.multiset_digest(list(reversed(rows))), "t") == []
    wrong = checks.multiset_digest([("a", b"x"), ("b", b"yz"), ("a", b"x")])
    assert checks.digest_problems(d, wrong, "t")
    # a lost duplicate changes the multiset, so the digest too
    assert checks.digest_problems(d, checks.multiset_digest(rows[:2]), "t")


def test_contiguous():
    assert checks.contiguous_problems([3, 4, 5], 3, "x") == []
    assert checks.contiguous_problems([3, 5], 3, "x")


def _stored(rows):
    from perfbench import queries

    return {"q": {"rows": len(rows), "digest": f"{queries.result_digest(rows):032x}"}}


def test_query_digest_ignores_row_order_and_float_noise():
    from perfbench import queries

    rows = [(1, "a", 0.1 + 0.2), (2, "b", 1.5)]
    again = [(2, "b", 1.5), (1, "a", 0.3)]
    assert queries.digest_problems("q", again, _stored(rows)) == []


def test_query_digest_rejects_a_wrong_result():
    from perfbench import queries

    rows = [(1, "a", 0.5), (2, "b", 1.5)]
    assert queries.digest_problems("q", [(1, "a", 0.5), (2, "c", 1.5)], _stored(rows))
    assert queries.digest_problems("q", rows[:1], _stored(rows))
    assert queries.digest_problems("other", rows, _stored(rows))
