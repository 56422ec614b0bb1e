"""Seeded benchmark inputs: a corpus-generator index window and a query mix.

Both are pure functions of the run seed.  The corpus rows come from the
repository's fixture generator (terrier_spark.corpus, FIXTURES.md §1),
whose row ``i`` depends only on ``i``; the seed picks which window of
indexes a run uses.  The engine only ever sees the Parquet files written
here and the query strings.
"""

from __future__ import annotations

import sys

import numpy as np

from terrier_spark import corpus

# Generator indexes a run's window may start at.
WINDOW_SPAN = 10_000_000

# Query templates (FIXTURES.md §2): 1-5 terms mixing hot terms,
# per-language keywords, rare identifiers and absent terms.  The seed
# draws the concrete terms and their case; the class composition is the
# same for every seed and every round, so per-seed medians compare like
# with like, and a run that measures whole rounds times the whole mix.
TEMPLATES = (
    ("hot",),
    ("keyword", "rare"),
    ("rare", "rare", "hot"),
    ("absent",),
    ("keyword", "keyword", "rare", "hot"),
    ("hot", "hot", "keyword", "rare", "absent"),
)
ROUNDS = 2  # each template is used this many times per seed
MIXED_CASE_P = 0.3
# Zipf ranks of the identifier vocabulary that count as rare: the head
# (ranks < 500) is frequent, and the generator clips the Zipf tail onto
# the last entries, which makes those frequent again.
RARE_RANKS = (500, 4000)
_ALNUM = np.array(list("abcdefghijklmnopqrstuvwxyz0123456789"))


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def window_start(seed: int) -> int:
    """First generator index of the run's corpus window."""
    return int(_rng(seed, 0).integers(0, WINDOW_SPAN))


def corpus_rows(start: int, stop: int):
    """Generator rows ``[start, stop)`` with their ``doc_id``, as pandas."""
    pdf = corpus._rows_pdf(np.arange(start, stop))
    pdf["doc_id"] = [
        corpus.doc_id_of(r, p, c)
        for r, p, c in zip(pdf["repo"], pdf["path"], pdf["commit"])
    ]
    return pdf


def write_part(start: int, stop: int, path: str) -> None:
    """Write generator rows ``[start, stop)`` to one Parquet file."""
    corpus_rows(start, stop).to_parquet(path, index=False)


def split_window(start: int, n_docs: int, parts: int) -> list[tuple[int, int]]:
    """``parts`` contiguous ``[lo, hi)`` ranges covering the window."""
    edges = np.linspace(start, start + n_docs, parts + 1).astype(int)
    return [(int(a), int(b)) for a, b in zip(edges[:-1], edges[1:]) if b > a]


def _term(rng: np.random.Generator, cls: str) -> str:
    if cls == "hot":
        return str(rng.choice(corpus.HOT))
    if cls == "keyword":
        lang = corpus.LANGS[int(rng.integers(len(corpus.LANGS)))]
        return str(rng.choice(corpus.KEYWORDS[lang]))
    if cls == "rare":
        return corpus.VOCAB[int(rng.integers(*RARE_RANKS))]
    # No generator syllable starts with "zx", so the term is absent.
    return "zx" + "".join(rng.choice(_ALNUM, size=6))


def query_mix(seed: int) -> list[dict]:
    """The run's queries: ``ROUNDS`` rounds of the templates, in order.

    Each query is ``{"text", "classes", "mixed_case"}``; ``classes`` names
    the class of each term, in order."""
    rng = _rng(seed, 1)
    out = []
    for _ in range(ROUNDS):
        for classes in TEMPLATES:
            terms, mixed = [], False
            for cls in classes:
                t = _term(rng, cls)
                if rng.random() < MIXED_CASE_P:
                    t = t.upper() if rng.random() < 0.5 else t.capitalize()
                    mixed = True
                terms.append(t)
            out.append({"text": " ".join(terms), "classes": list(classes), "mixed_case": mixed})
    return out


def mix_report(queries: list[dict]) -> dict:
    """Shares of each term class and of mixed-case queries, and the
    terms-per-query spread."""
    classes = [c for q in queries for c in q["classes"]]
    n_terms = [len(q["classes"]) for q in queries]
    shares = {
        f"{c}_term_share": classes.count(c) / len(classes)
        for c in ("hot", "keyword", "rare", "absent")
    }
    shares["mixed_case_query_share"] = sum(q["mixed_case"] for q in queries) / len(queries)
    shares["terms_per_query"] = {
        str(k): n_terms.count(k) for k in sorted(set(n_terms))
    }
    return shares


if __name__ == "__main__":
    # python3 -m perfbench.inputs START STOP PATH [START STOP PATH ...]
    a = sys.argv[1:]
    for i in range(0, len(a), 3):
        write_part(int(a[i]), int(a[i + 1]), a[i + 2])
