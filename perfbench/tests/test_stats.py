from perfbench import checks, stats
from perfbench.trace import parse_sql_metric


def test_tail_needs_ten_samples_beyond_it():
    assert stats.tail(range(10)) is None
    t = stats.tail(range(11))
    assert t == {"pct": 100.0 / 11, "value": 0.0, "n": 11}
    t = stats.tail(range(100, 0, -1))  # order does not matter
    assert t["value"] == 90 and t["pct"] == 90.0 and t["n"] == 100


def test_self_time_subtracts_the_union_of_children_clipped_to_the_parent():
    spans = [
        {"id": 0, "parent": None, "name": "bench.op", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "name": "score.call", "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "name": "score.collect", "start": 2.0, "end": 5.0},
        {"id": 3, "parent": 0, "name": "ingest.batch", "start": 8.0, "end": 12.0},
        {"id": 4, "parent": 2, "name": "score.inner", "start": 4.0, "end": 4.5},
    ]
    st = stats.self_times(spans)
    assert st[0] == 10.0 - (4.0 + 2.0)
    assert st[1] == 2.0
    assert st[2] == 2.5
    assert st[3] == 4.0
    assert st[4] == 0.5
    layers = stats.layer_self_times(spans)
    assert layers == {"bench": 4.0, "score": 5.0, "ingest": 4.0}


def test_parse_sql_metric():
    assert parse_sql_metric("8,655") == 8655
    assert parse_sql_metric("472.0 B") == 472
    assert parse_sql_metric("0 ms") == 0
    assert parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n1.3 s (150 ms, 160 ms, 187 ms (stage 50.0: task 110))"
    ) == 1300.0
    assert parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n168.2 KiB (18.0 KiB, 21.6 KiB, 24.3 KiB (stage 30.0: task 51))"
    ) == 168.2 * 1024


def test_ranking_check():
    exp = [("a", 3.0), ("b", 2.0), ("c", 2.0)]
    assert checks.ranking_mismatch(exp, exp) is None
    assert "score" in checks.ranking_mismatch([("a", 3.0), ("b", 2.1), ("c", 2.0)], exp)
    swapped = [("a", 3.0), ("c", 2.0), ("b", 2.0)]
    assert "doc ids" in checks.ranking_mismatch(swapped, exp)
    # Exact ties may come in any order when the oracle's ties are given.
    ties = exp + [("d", 2.0), ("e", 1.0)]
    assert checks.ranking_mismatch(swapped, exp, ties) is None
    assert checks.ranking_mismatch([("a", 3.0), ("b", 2.0), ("d", 2.0)], exp, ties) is None
    assert checks.ranking_mismatch([("a", 3.0), ("b", 2.0), ("e", 2.0)], exp, ties) is not None
    assert "results" in checks.ranking_mismatch(exp[:2], exp)
