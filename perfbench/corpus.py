"""Seeded inputs: the workout corpus and the request streams.

Nothing here touches Spark. The corpus is written with pyarrow before the
benchmark's clock starts; requests are plain dicts in the service's JSON
request shape. Every choice is drawn from ``numpy.random.default_rng``
seeded by the benchmark's ``--seed``, so a seed fixes every input.

Corpus make-up. Each document has a ``sport_type`` (6 values), a
``difficulty`` (3 values), a ``duration_min`` (10..120 by 5), its
``topic`` (0..N_TOPICS-1) and a text of
a short header (difficulty, sport, ``workout``, duration) plus
``TOPIC_TOKENS`` words drawn from one of ``N_TOPICS`` equally likely topic
vocabularies and ``GLOBAL_TOKENS`` words from the whole vocabulary. Topics
give the vectors cluster structure of equal-sized groups, so a learned
quantizer's cells come out balanced, and the topic column can serve as a
ready-made cell assignment. One pinned document, the same for every seed,
follows the seeded ones (``PINNED_TEXT``).

Requests are either
* ``para``: a paraphrase of a stored text (a few words dropped, the rest
  shuffled, one filler word added). Its source passes its filter and its
  cosine to the source is at least ``PARA_MIN_COS``, so its top-1 is a hit
  (> 0.80) on an exact search;
* ``exact``: a stored text verbatim, which must come back first at
  similarity >= 0.999999;
* ``pinned``: the text of the pinned document, the same for every seed
  (``PINNED_TEXT``), sent verbatim; an ``exact`` request on a fixed input;
* ``novel``: words from a vocabulary no document uses, whose cosine to
  every stored vector is at most ``NOVEL_MAX_COS`` (a miss, <= 0.70).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from oracle import filter_mask

SPORTS = ("run", "ride", "swim", "walk", "hike", "row")
DIFFICULTIES = ("easy", "moderate", "hard")
N_TOPICS = 64
TOPIC_VOCAB = 90
VOCAB = 6000
NOVEL_VOCAB = 3000
TOPIC_TOKENS = 26
GLOBAL_TOKENS = 6
NOVEL_TOKENS = 20
PARA_MIN_COS = 0.85
NOVEL_MAX_COS = 0.5
# One document the same for every seed, added after the seeded ones. Its
# vector, rounded to 6 decimals after normalisation as the program stores
# it, has a squared norm of 0.9999973, so a plain dot product scores the
# text against itself at 0.999997 (run.py grades this as a known fault).
PINNED_TEXT = (
    "easy run workout 30 minutes: fudoca nehi rubosa rekepi nigeho kupaba sucuca sopahe "
    "kuna setuvu sojo pofeha lahosa pibaru dadeli lesu molepu jucici copofe gepiza "
    "jimumi rela jijohu cinaho mijane bemudi banosa nujacu tuboco dokace"
)
PINNED_FILTER = {"@and": [{"@eq": {"sport_type": "run"}}, {"@lte": {"duration_min": 30}}]}
# The filter bodies of the batch workloads, the same for every seed so each
# batch has the same shape: between 1/12 and 1/6 of the corpus passes each.
BATCH_FILTERS = [
    {"@and": [{"@eq": {"sport_type": sport}}, {"@lte": {"duration_min": bound}}]}
    for sport, bound in (("run", 60), ("ride", 90), ("swim", 75), ("walk", 120))
]

_CONS = "bcdfghjklmnprstvz"
_VOW = "aeiou"


def _words(rng: np.random.Generator, n: int, taken: set[str]) -> list[str]:
    out: list[str] = []
    while len(out) < n:
        syl = int(rng.integers(2, 4))
        w = "".join(
            _CONS[int(rng.integers(len(_CONS)))] + _VOW[int(rng.integers(len(_VOW)))]
            for _ in range(syl)
        )
        if w not in taken:
            taken.add(w)
            out.append(w)
    return out


@dataclass
class Req:
    """One request: its kind (``para``, ``exact``, ``pinned``, ``novel`` or
    ``vec``), the JSON request the service receives, and the stored
    document it was made from (all kinds but ``novel``)."""

    kind: str
    body: dict
    src: int | None = None


class Inputs:
    """The corpus of one seed and the request generators over it."""

    def __init__(self, seed: int, n_docs: int, embedder):
        self.rng = np.random.default_rng(seed)
        self.embedder = embedder
        rng = self.rng
        taken = set(SPORTS) | set(DIFFICULTIES) | {"workout", "minutes", "plan", "generated"}
        self.vocab = _words(rng, VOCAB, taken)
        self.novel_vocab = _words(rng, NOVEL_VOCAB, taken)
        self.fillers = _words(rng, 50, taken)
        topics = [rng.choice(VOCAB, TOPIC_VOCAB, replace=False) for _ in range(N_TOPICS)]
        self.doc_id = np.arange(1, n_docs + 1, dtype=np.int64)
        self.sport = rng.integers(len(SPORTS), size=n_docs)
        self.difficulty = rng.integers(len(DIFFICULTIES), size=n_docs)
        self.duration = (rng.integers(2, 25, size=n_docs) * 5).astype(np.int64)
        self.topic = rng.integers(N_TOPICS, size=n_docs).astype(np.int32)
        self.texts: list[str] = []
        for i in range(n_docs):
            words = [self.vocab[j] for j in rng.choice(topics[self.topic[i]], TOPIC_TOKENS)]
            words += [self.vocab[j] for j in rng.integers(VOCAB, size=GLOBAL_TOKENS)]
            self.texts.append(
                f"{DIFFICULTIES[self.difficulty[i]]} {SPORTS[self.sport[i]]} workout "
                f"{self.duration[i]} minutes: " + " ".join(words)
            )
        self.pinned_id = n_docs + 1
        self.doc_id = np.append(self.doc_id, self.pinned_id)
        self.sport = np.append(self.sport, SPORTS.index("run"))
        self.difficulty = np.append(self.difficulty, DIFFICULTIES.index("easy"))
        self.duration = np.append(self.duration, 30)
        self.topic = np.append(self.topic, 0).astype(np.int32)
        self.texts.append(PINNED_TEXT)
        self.matrix = embedder.embed_many(self.texts)

    # -- corpus ----------------------------------------------------------

    def attrs(self) -> dict[str, np.ndarray]:
        return {
            "sport_type": np.array(SPORTS, dtype=object)[self.sport],
            "difficulty": np.array(DIFFICULTIES, dtype=object)[self.difficulty],
            "duration_min": self.duration,
        }

    def write_parquet(self, path: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        a = self.attrs()
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(self.doc_id, pa.int64()),
                    "text": pa.array(self.texts, pa.string()),
                    "sport_type": pa.array(list(a["sport_type"]), pa.string()),
                    "difficulty": pa.array(list(a["difficulty"]), pa.string()),
                    "duration_min": pa.array(self.duration, pa.int64()),
                    "topic": pa.array(self.topic, pa.int32()),
                }
            ),
            path,
        )

    # -- requests --------------------------------------------------------

    def paraphrase(self, text: str) -> str:
        head, body = text.split(": ", 1)
        words = body.split()
        for drop in (3, 2, 1, 0):
            keep = [words[j] for j in sorted(self.rng.choice(len(words), len(words) - drop, replace=False))]
            self.rng.shuffle(keep)
            filler = self.fillers[int(self.rng.integers(len(self.fillers)))]
            out = f"{filler} {head} " + " ".join(keep)
            if float(self.embedder.embed(out) @ self.embedder.embed(text)) >= PARA_MIN_COS:
                return out
        raise AssertionError("paraphrase generator cannot reach PARA_MIN_COS")

    def novel_text(self) -> str:
        words = [self.novel_vocab[j] for j in self.rng.integers(NOVEL_VOCAB, size=NOVEL_TOKENS)]
        text = f"{SPORTS[int(self.rng.integers(len(SPORTS)))]} session " + " ".join(words)
        if float(np.max(self.matrix @ self.embedder.embed(text))) > NOVEL_MAX_COS:
            return self.novel_text()
        return text

    def doc_filter(self, i: int) -> dict:
        """A filter the stored document at row ``i`` passes."""
        slack = int(self.rng.choice((0, 15, 30)))
        return {
            "@and": [
                {"@eq": {"sport_type": SPORTS[self.sport[i]]}},
                {"@lte": {"duration_min": int(self.duration[i]) + slack}},
            ]
        }

    def random_filter(self) -> dict:
        return {
            "@and": [
                {"@eq": {"sport_type": SPORTS[int(self.rng.integers(len(SPORTS)))]}},
                {"@lte": {"duration_min": int(self.rng.integers(6, 25)) * 5}},
            ]
        }

    def lookup_round(self) -> list[Req]:
        """One round of 5 single requests: 3 paraphrases, 1 novel text and
        the pinned text."""
        out = []
        for _ in range(3):
            i = int(self.rng.integers(len(self.texts)))
            q = self.paraphrase(self.texts[i])
            out.append(Req("para", {"query": q, "filter": self.doc_filter(i), "limit": 10}, int(self.doc_id[i])))
        out.append(Req("novel", {"query": self.novel_text(), "filter": self.random_filter(), "limit": 10}))
        out.append(Req("pinned", {"query": PINNED_TEXT, "filter": PINNED_FILTER, "limit": 10}, self.pinned_id))
        return out

    def batch(self, bodies: list[dict], n_para: int, n_novel: int, n_exact: int = 0) -> list[Req]:
        """One batch of text requests over the given filter bodies:
        ``n_para`` paraphrases and ``n_exact`` verbatim texts of stored
        documents that pass their body, ``n_novel`` novel texts; bodies
        assigned round-robin."""
        a = self.attrs()
        out = []
        for j, kind in enumerate(("para",) * n_para + ("exact",) * n_exact + ("novel",) * n_novel):
            body = bodies[j % len(bodies)]
            if kind == "novel":
                out.append(Req(kind, {"query": self.novel_text(), "filter": body, "limit": 10}))
                continue
            cand = np.flatnonzero(filter_mask(body, a))
            i = int(cand[int(self.rng.integers(len(cand)))])
            q = self.texts[i] if kind == "exact" else self.paraphrase(self.texts[i])
            out.append(Req(kind, {"query": q, "filter": body, "limit": 10}, int(self.doc_id[i])))
        return out
