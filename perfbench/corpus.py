"""Seeded synthetic API-log corpus and its pure-Python oracle.

The corpus follows the reference's on-disk grammar: two class
directories, ``clean_LOGS_CONVERTED`` and ``virus_LOGS_CONVERTED``, of
files named ``LOG_API (N)converted.txt``.  Each file starts with a bare
class marker line (``" -"`` clean, ``" +"`` virus) followed by one
``"<Api> -\\r\\n"`` / ``"<Api> +\\r\\n"`` line per call.

Its statistics follow the reference corpus (BASELINE.md): a 720:884
clean:virus split, about 95 lines per clean log and 175 per virus log
with lognormal lengths, and a 124-name API vocabulary drawn with Zipf
frequencies per class, a third of whose ranks are reordered for the
virus class.

The oracle recomputes, from the generated token sets alone, what the
feature-selection program must output: per-class document frequencies,
the information-gain top-k with 1-based ranks, and each log's LIBSVM
index set.  It also reports whether some API occurs in every log (the
input on which ``info_gain_ranking`` is known to divide by zero under
ANSI mode); the distribution is not adjusted either way around that.
"""

from __future__ import annotations

import itertools
import math
import os
import random
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal

CLEAN_DIR = "clean_LOGS_CONVERTED"
VIRUS_DIR = "virus_LOGS_CONVERTED"
N_CLEAN, N_VIRUS = 720, 884
MEAN_LINES = {"clean": 95.0, "virus": 175.0}
LENGTH_SIGMA = 1.0
ZIPF_S = 1.0

_VERBS = ("Get", "Set", "Create", "Open", "Close", "Read", "Write", "Query",
          "Delete", "Load", "Enum", "Find")
_NOUNS = ("File", "Process", "Thread", "RegKey", "Library", "Module", "Handle",
          "Mutex", "Section", "Token", "Window")
#: The 124-name vocabulary (a constant: seeds change frequencies, not names).
VOCAB = tuple(f"{v}{n}" for n in _NOUNS for v in _VERBS)[:124]


@dataclass
class Corpus:
    """A generated corpus: where it lives and what is in it."""

    root: str
    docs: dict[str, tuple[str, frozenset[str]]] = field(default_factory=dict)
    lines: int = 0

    @property
    def clean_dir(self) -> str:
        return os.path.join(self.root, CLEAN_DIR)

    @property
    def virus_dir(self) -> str:
        return os.path.join(self.root, VIRUS_DIR)


def _rank_orders(rng: random.Random) -> dict[str, list[str]]:
    clean = list(VOCAB)
    rng.shuffle(clean)
    virus = list(clean)
    moved = sorted(rng.sample(range(len(virus)), len(virus) // 3))
    shuffled = list(moved)
    rng.shuffle(shuffled)
    for src, dst in zip(moved, shuffled):
        virus[dst] = clean[src]
    return {"clean": clean, "virus": virus}


def generate(root: str, seed: int) -> Corpus:
    """Write the corpus under ``root`` and return it with its token sets.

    ``docs`` maps the engine's document id (``<class>/<file name>``) to
    ``(cls, distinct API set)`` with cls ``pos`` for virus, ``neg`` for
    clean.
    """
    rng = random.Random(seed)
    orders = _rank_orders(rng)
    cum = list(itertools.accumulate(1.0 / r ** ZIPF_S for r in range(1, len(VOCAB) + 1)))
    corpus = Corpus(root)
    for cls, n_logs, sub, sign, label in (
        ("clean", N_CLEAN, CLEAN_DIR, "-", "neg"),
        ("virus", N_VIRUS, VIRUS_DIR, "+", "pos"),
    ):
        d = os.path.join(root, sub)
        os.makedirs(d, exist_ok=True)
        mu = math.log(MEAN_LINES[cls]) - LENGTH_SIGMA ** 2 / 2
        for i in range(1, n_logs + 1):
            n_lines = max(2, round(rng.lognormvariate(mu, LENGTH_SIGMA)))
            apis = rng.choices(orders[cls], cum_weights=cum, k=n_lines - 1)
            name = f"LOG_API ({i})converted.txt"
            body = f" {sign}\r\n" + "".join(f"{a} {sign}\r\n" for a in apis)
            with open(os.path.join(d, name), "w", newline="") as f:
                f.write(body)
            corpus.docs[f"{cls}/{name}"] = (label, frozenset(apis))
            corpus.lines += n_lines
    return corpus


def _h2(x: int, y: int) -> float:
    """Binary entropy of x/y in bits, 0·log 0 = 0 (functions/entropy.py)."""
    if y == 0:
        return 0.0
    p = x / y
    return sum(-q * math.log2(q) for q in (p, 1.0 - p) if q > 0)


def _round6(x: float) -> float:
    """Spark's ``round(double, 6)``: HALF_UP on the shortest decimal repr."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


@dataclass
class Oracle:
    """Expected outputs of the feature-selection program on a corpus."""

    ranking: list[tuple[str, float]]  # (token, info gain), rank order
    libsvm: dict[str, tuple[float, tuple[int, ...]]]  # doc -> (label, indices)
    stats: dict[str, int]


def oracle(corpus: Corpus, k: int = 2000) -> Oracle:
    """IG top-k, LIBSVM index sets and corpus stats, in pure Python."""
    pos_df: dict[str, int] = {}
    neg_df: dict[str, int] = {}
    for cls, apis in corpus.docs.values():
        target = pos_df if cls == "pos" else neg_df
        for a in apis:
            target[a] = target.get(a, 0) + 1
    t = len(corpus.docs)
    p = sum(1 for cls, _ in corpus.docs.values() if cls == "pos")
    scored = []
    for tok in set(pos_df) & set(neg_df):
        pg, tg = pos_df[tok], pos_df[tok] + neg_df[tok]
        ig = _h2(p, t) - (tg / t) * _h2(pg, tg) - ((t - tg) / t) * _h2(p - pg, t - tg)
        scored.append((tok, ig))
    scored.sort(key=lambda r: (-_round6(r[1]), r[0]))
    ranking = scored[:k]
    rank = {tok: i for i, (tok, _) in enumerate(ranking, start=1)}
    libsvm = {}
    for doc, (cls, apis) in corpus.docs.items():
        idx = tuple(sorted(rank[a] for a in apis if a in rank))
        if idx:
            libsvm[doc] = (1.0 if cls == "pos" else 0.0, idx)
    distinct = set(pos_df) | set(neg_df)
    stats = {
        "logs": t,
        "lines": corpus.lines,
        "distinct_apis": len(distinct),
        "survivors": len(ranking),
        "universal_apis": sum(
            1 for a in distinct if pos_df.get(a, 0) + neg_df.get(a, 0) == t
        ),
    }
    return Oracle(ranking, libsvm, stats)
