"""Output checks against terrier_spark.oracle (run outside timed regions)."""

from __future__ import annotations

SCORE_TOL = 1e-9


def ranking_mismatch(
    got: list[tuple[str, float]],
    exp: list[tuple[str, float]],
    exp_ties: list[tuple[str, float]] | None = None,
) -> str | None:
    """None when ``got`` matches the oracle's top-k ``exp``, else why not.

    Scores must agree position by position within ``SCORE_TOL``.  Doc ids
    must be rank-identical, except that when ``exp_ties`` (the oracle's
    list with more than k entries) is given, docs whose rounded scores tie
    may come in any order; this is for indexes whose docno order is not
    doc-id order (merged live segments), where the engine breaks exact ties
    by docno."""
    if len(got) != len(exp):
        return f"{len(got)} results, oracle has {len(exp)}"
    for i, ((gd, gs), (ed, es)) in enumerate(zip(got, exp)):
        if abs(gs - es) > SCORE_TOL:
            return f"rank {i + 1}: score {gs!r} vs oracle {es!r}"
    if [d for d, _ in got] == [d for d, _ in exp]:
        return None
    if exp_ties is None:
        return "doc ids differ: " + " ".join(
            f"{i + 1}:{gd[:8]}/{ed[:8]}"
            for i, ((gd, _), (ed, _)) in enumerate(zip(got, exp))
            if gd != ed
        )
    for i, (gd, gs) in enumerate(got):
        tied = {d for d, s in exp_ties if abs(s - gs) <= SCORE_TOL}
        if gd not in tied:
            return f"rank {i + 1}: doc {gd[:8]} is not among the oracle's score ties"
    if len({d for d, _ in got}) != len(got):
        return "duplicate doc ids"
    return None


def stats_mismatch(got: dict, oracle_index) -> str | None:
    """Build statistics against the oracle's: num_docs, num_tokens, n_terms."""
    exp = {
        "num_docs": oracle_index.num_docs,
        "num_tokens": oracle_index.num_tokens,
        "n_terms": len(oracle_index.df),
    }
    bad = [f"{k} {got[k]} vs oracle {v}" for k, v in exp.items() if got[k] != v]
    return "; ".join(bad) or None
