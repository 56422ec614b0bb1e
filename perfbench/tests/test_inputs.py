from perfbench import inputs


def test_window_and_mix_repeat_for_a_seed():
    assert inputs.window_start(7) == inputs.window_start(7)
    assert inputs.query_mix(7) == inputs.query_mix(7)
    a, b = inputs.corpus_rows(inputs.window_start(7), inputs.window_start(7) + 3), \
        inputs.corpus_rows(inputs.window_start(7), inputs.window_start(7) + 3)
    assert a.equals(b)


def test_window_and_mix_differ_across_seeds():
    starts = {inputs.window_start(s) for s in range(20)}
    assert len(starts) == 20
    texts = {tuple(q["text"] for q in inputs.query_mix(s)) for s in range(20)}
    assert len(texts) == 20
    a = inputs.corpus_rows(inputs.window_start(1), inputs.window_start(1) + 3)
    b = inputs.corpus_rows(inputs.window_start(2), inputs.window_start(2) + 3)
    assert set(a["doc_id"]).isdisjoint(b["doc_id"])


def test_mix_composition_is_the_same_for_every_seed():
    reports = [inputs.mix_report(inputs.query_mix(s)) for s in range(5)]
    for r in reports:
        for cls in ("hot", "keyword", "rare", "absent"):
            assert r[f"{cls}_term_share"] == reports[0][f"{cls}_term_share"]
        assert r["terms_per_query"] == reports[0]["terms_per_query"]
    assert len(inputs.query_mix(3)) == inputs.ROUNDS * len(inputs.TEMPLATES)


def test_split_window_covers_the_window_once():
    parts = inputs.split_window(100, 10, 4)
    assert parts[0][0] == 100 and parts[-1][1] == 110
    assert all(a[1] == b[0] for a, b in zip(parts, parts[1:]))
